"""Correctness checks for benchmark outputs, computed in DuckDB.

Swivel: a reference built from the same corpus with the semantics of the
gated Swivel queries' oracle (graft.ops.Swivel): whitespace tokens, vocab
ranked by (count desc, token) and truncated to a multiple of the shard
size, in-window pairs in both orientations, cell weight round(sum_d n_d/d, 4)
in fixed order, marginals over the unrounded per-row sums. Pairs are found
with the equi-join pos_b = pos_a + d for d = 1..window, so the reference
stays linear in document length.

Suite: each key's output is compared with its oracle SQL
(SparkEntry.oracleSql) run over the same tables: column names, DuckDB
types, row count and an order-aware digest of the rows. Keys without an
oracle must return rows, the same number in every pass.
"""
import glob
import hashlib
import json
import os

import duckdb


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


# ---------------------------------------------------------------- Swivel

def swivel_reference(con, corpus_path, min_count, shard_size, window):
    """Creates ref_vocab(id, token, cnt), ref_cells(row_id, col_id, weight)
    and ref_marg(id, marginal) in `con`; returns the vocab size."""
    docs = []
    with open(corpus_path) as f:
        for line in f:
            docs.append(line.rstrip("\n"))
    import pyarrow as pa
    con.register("docs_arrow", pa.table({"doc_id": list(range(len(docs))), "text": docs}))
    weight = " + ".join(f"sum(CASE WHEN dd = {k} THEN 1 ELSE 0 END) / {k}.0"
                        for k in range(1, window + 1))
    con.execute(f"""
      CREATE OR REPLACE TABLE ref_tok AS
      SELECT doc_id,
             CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos,
             unnest(string_split(text, ' ')) AS token
      FROM docs_arrow""")
    con.execute(f"""
      CREATE OR REPLACE TABLE ref_vocab AS
      WITH vcnt AS (
        SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM ref_tok
        GROUP BY token HAVING count(*) >= {min_count}
      ), vrk AS (
        SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rn,
               count(*) OVER () AS total FROM vcnt
      )
      SELECT CAST(rn - 1 AS BIGINT) AS id, token, cnt FROM vrk
      WHERE rn <= (total // {shard_size}) * {shard_size}""")
    con.execute(f"""
      CREATE OR REPLACE TABLE ref_pairs AS
      WITH tid AS (
        SELECT t.doc_id, t.pos, v.id FROM ref_tok t JOIN ref_vocab v USING (token)
      ), ahead AS (
        SELECT doc_id, pos + r.d AS bpos, id, CAST(r.d AS INT) AS dd
        FROM tid CROSS JOIN range(1, {window + 1}) r(d)
      ), prs AS (
        SELECT a.id AS x, b.id AS y, a.dd
        FROM ahead a JOIN tid b ON b.doc_id = a.doc_id AND b.pos = a.bpos
      )
      SELECT x AS row_id, y AS col_id, dd FROM prs
      UNION ALL
      SELECT y AS row_id, x AS col_id, dd FROM prs""")
    con.execute(f"""
      CREATE OR REPLACE TABLE ref_cells AS
      SELECT row_id, col_id, round({weight}, 4) AS weight
      FROM ref_pairs GROUP BY row_id, col_id""")
    con.execute(f"""
      CREATE OR REPLACE TABLE ref_marg AS
      SELECT row_id AS id, round({weight}, 4) AS marginal
      FROM ref_pairs GROUP BY row_id""")
    return con.execute("SELECT count(*) FROM ref_vocab").fetchone()[0]


def _same(con, got_sql, ref_sql, what):
    """Multiset equality of two relations; returns an error or None."""
    n_got, n_ref = (con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0]
                    for q in (got_sql, ref_sql))
    if n_got != n_ref:
        return f"{what}: {n_got} rows, reference has {n_ref}"
    diff = con.execute(f"""
      SELECT count(*) FROM (
        (SELECT * FROM ({got_sql}) EXCEPT ALL SELECT * FROM ({ref_sql}))
        UNION ALL
        (SELECT * FROM ({ref_sql}) EXCEPT ALL SELECT * FROM ({got_sql})))""").fetchone()[0]
    if diff:
        return f"{what}: {diff} rows differ from the reference"
    return None


def _files(pattern):
    files = sorted(glob.glob(pattern))
    return f"read_parquet({files!r})" if files else None


def check_swivel(con, out_dir, vocab_size, shard_size, decoded_dir):
    """Errors found in one SwivelMain `.pb` output directory. `decoded_dir` is
    the run whose shards the engine's reader decoded into parquet; the
    shards of every other run must be byte-identical to that run's."""
    errs = []
    ns = vocab_size // shard_size
    vocab = _files(f"{out_dir}/vocab/*.parquet")
    sums = _files(f"{out_dir}/row_sums/*.parquet")
    if not vocab or not sums:
        return [f"{out_dir}: vocab or row_sums missing"]
    errs.append(_same(con, f"SELECT id, token, cnt FROM {vocab}",
                      "SELECT id, token, cnt FROM ref_vocab", "vocab"))
    errs.append(_same(con, f"SELECT id, marginal FROM {sums}",
                      "SELECT id, marginal FROM ref_marg", "marginals"))
    names = sorted(os.path.basename(f) for f in glob.glob(f"{out_dir}/shards_pb/shard-*.pb"))
    if len(names) != ns * ns:
        errs.append(f"shards_pb: {len(names)} files, expected {ns * ns}")
    if out_dir == decoded_dir:
        decoded = _files(f"{out_dir}/decoded/*.parquet")
        errs.append(_same(
            con, f"""SELECT row_shard, col_shard, local_row, local_col, global_row,
                            global_col, weight FROM {decoded}""",
            f"""SELECT row_id % {ns}, col_id % {ns}, row_id // {ns}, col_id // {ns},
                       row_id, col_id, CAST(weight AS FLOAT) FROM ref_cells""",
            "pb shard cells"))
    else:
        for n in names:
            with open(f"{out_dir}/shards_pb/{n}", "rb") as a, \
                    open(f"{decoded_dir}/shards_pb/{n}", "rb") as b:
                if a.read() != b.read():
                    errs.append(f"shards_pb/{n} differs from the decoded run's")
                    break
    tokens = [t for (t,) in con.execute("SELECT token FROM ref_vocab ORDER BY id").fetchall()]
    marg = dict(con.execute("SELECT id, marginal FROM ref_marg").fetchall())
    sums_txt = [f"{marg.get(i, 0.0):.4f}" for i in range(len(tokens))]
    for name, want in (("row_vocab.txt", tokens), ("col_vocab.txt", tokens),
                       ("row_sums.txt", sums_txt), ("col_sums.txt", sums_txt)):
        path = os.path.join(out_dir, name)
        got = open(path).read().split("\n")[:-1] if os.path.exists(path) else None
        if got != want:
            errs.append(f"{name} differs from the reference")
    return [e for e in errs if e]


def swivel_counts(con):
    """The reference's layer counts, for cross-checking the traced run."""
    q = lambda s: con.execute(s).fetchone()[0]
    return {"tokens": q("SELECT count(*) FROM ref_tok"),
            "vocab_size": q("SELECT count(*) FROM ref_vocab"),
            "pairs": q("SELECT count(*) FROM ref_pairs"),
            "cells": q("SELECT count(*) FROM ref_cells")}


# ----------------------------------------------------------------- suite

def suite_views(con, tables_dir, tables):
    for t in tables:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet/*.parquet')")


def _record(rel):
    """Columns, types, row count and order-aware digest of a relation."""
    cols = list(rel.columns)
    types = [str(t) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    n = 0
    for row in rel.fetchall():
        # + 0.0 folds -0.0 into 0.0, which compare equal
        h.update(repr(tuple(row[i] + 0.0 if isinstance(row[i], float) else row[i]
                            for i in order)).encode())
        n += 1
    return {"columns": sorted(cols), "types": {c: t for c, t in zip(cols, types)},
            "rows": n, "digest": h.hexdigest()}


def expected(con, oracle_sql, keys, cache_path):
    """Oracle records for the keys that have oracle SQL, cached by path."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            return json.load(f)
    exp = {}
    for k in keys:
        if k in oracle_sql:
            exp[k] = _record(con.sql(oracle_sql[k]))
    tmp = cache_path + f".tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(exp, f)
    os.replace(tmp, cache_path)
    return exp


def output_record(con, out_dir):
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return None
    return _record(con.sql(f"SELECT * FROM read_parquet({files!r})"))


def check_key(got, want):
    """Error for one key's output record against its oracle record, or None.
    `want` is None for keys without oracle SQL."""
    if got is None:
        return "no output written"
    if want is None:
        return None if got["rows"] > 0 else "no rows (key has no oracle)"
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != oracle {want['columns']}"
    if got["types"] != want["types"]:
        return f"types {got['types']} != oracle {want['types']}"
    if got["rows"] != want["rows"]:
        return f"{got['rows']} rows, oracle has {want['rows']}"
    if got["digest"] != want["digest"]:
        return "rows differ from the oracle"
    return None
