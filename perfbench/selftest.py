#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks: they must accept right
outputs and trip on wrong ones, among them outputs made from another seed.

    python3 perfbench/selftest.py

Builds outputs in DuckDB (no JVM needed) under .bench_build/selftest/ and
exits non-zero if any check decides wrongly.
"""
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402

WORK = os.path.join(run.BUILD, "selftest")
SHARD, MIN_COUNT, WINDOW = run.SHARD, run.MIN_COUNT, run.WINDOW
failures = []


def expect(name, errors, should_fail):
    tripped = bool(errors)
    ok = tripped == should_fail
    print(f"{'ok  ' if ok else 'FAIL'} {name}: {'tripped' if tripped else 'passed'}"
          + (f" ({errors[0]})" if tripped else ""))
    if not ok:
        failures.append(name)


def write_swivel_output(con, out, vocab_size, cell_filter="true"):
    """What SwivelMain writes with `--output_format pb`, with its shards as
    the engine's reader decodes them, from the reference in `con`."""
    ns = vocab_size // SHARD
    for d in ("vocab", "row_sums", "decoded", "shards_pb"):
        os.makedirs(f"{out}/{d}")
    con.execute(f"COPY (SELECT * FROM ref_vocab) TO '{out}/vocab/part-0.parquet' (FORMAT parquet)")
    con.execute(f"COPY (SELECT * FROM ref_marg) TO '{out}/row_sums/part-0.parquet' (FORMAT parquet)")
    con.execute(f"""
      COPY (SELECT row_id % {ns} AS row_shard, col_id % {ns} AS col_shard,
                   row_id // {ns} AS local_row, col_id // {ns} AS local_col,
                   row_id AS global_row, col_id AS global_col, CAST(weight AS FLOAT) AS weight
            FROM ref_cells WHERE {cell_filter}) TO '{out}/decoded/part-0.parquet' (FORMAT parquet)""")
    for r in range(ns):
        for c in range(ns):
            with open(f"{out}/shards_pb/shard-{r:03d}-{c:03d}.pb", "wb") as f:
                f.write(f"{r} {c}".encode())
    tokens = [t for (t,) in con.execute("SELECT token FROM ref_vocab ORDER BY id").fetchall()]
    marg = dict(con.execute("SELECT id, marginal FROM ref_marg").fetchall())
    sums = [f"{marg.get(i, 0.0):.4f}" for i in range(len(tokens))]
    for name, lines in (("row_vocab.txt", tokens), ("col_vocab.txt", tokens),
                        ("row_sums.txt", sums), ("col_sums.txt", sums)):
        with open(f"{out}/{name}", "w") as f:
            f.write("\n".join(lines) + "\n")


def swivel():
    params = {**run.CORPUS, "mean_doc_tokens": run.MEAN_DOC_TOKENS}
    corpus_a, _ = inputs.corpus(1, params, WORK)
    corpus_b, _ = inputs.corpus(2, params, WORK)
    ref_b = checks.connect()
    vocab_b = checks.swivel_reference(ref_b, corpus_b, MIN_COUNT, SHARD, WINDOW)
    for d in ("out_b", "out_b_copy", "out_b_edit"):
        write_swivel_output(ref_b, f"{WORK}/{d}", vocab_b)
    write_swivel_output(ref_b, f"{WORK}/out_b_cut", vocab_b, "row_id <> 0")
    ref_b.execute("UPDATE ref_cells SET weight = weight + 1 WHERE row_id = 0 AND col_id = 0")
    write_swivel_output(ref_b, f"{WORK}/out_b_bad", vocab_b)
    with open(f"{WORK}/out_b_edit/shards_pb/shard-000-000.pb", "ab") as f:
        f.write(b"x")
    with open(f"{WORK}/out_b_edit/row_sums.txt", "a") as f:
        f.write("0.0000\n")

    con = checks.connect()
    checks.swivel_reference(con, corpus_b, MIN_COUNT, SHARD, WINDOW)

    def check(d, decoded=None):
        return checks.check_swivel(con, f"{WORK}/{d}", vocab_b, SHARD,
                                   f"{WORK}/{decoded or d}")
    expect("swivel: seed-2 output against seed-2 reference", check("out_b"), False)
    expect("swivel: run byte-identical to the decoded one", check("out_b_copy", "out_b"), False)
    expect("swivel: one cell's weight changed", check("out_b_bad"), True)
    expect("swivel: one row of cells dropped", check("out_b_cut"), True)
    expect("swivel: a shard file and row_sums.txt changed", check("out_b_edit", "out_b"), True)
    vocab_a = checks.swivel_reference(con, corpus_a, MIN_COUNT, SHARD, WINDOW)
    expect("swivel: seed-2 output against seed-1 reference",
           checks.check_swivel(con, f"{WORK}/out_b", vocab_a, SHARD, f"{WORK}/out_b"), True)


def suite():
    # stand-in oracles over the tables the seed samples
    oracle = {
        "orders_per_status": "SELECT o_orderstatus, count(*) AS n FROM orders "
                             "GROUP BY o_orderstatus ORDER BY o_orderstatus",
        "events_value": "SELECT event_type, sum(CAST(value AS DECIMAL(18, 2))) AS v FROM events "
                        "GROUP BY event_type ORDER BY event_type",
        "top_lines": "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
                     "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 50",
    }
    dirs = {seed: inputs.suite_tables(seed, WORK) for seed in (1, 2)}
    con = checks.connect()
    checks.suite_views(con, dirs[1][0], inputs.TABLES)
    want = checks.expected(con, oracle, list(oracle), os.path.join(WORK, "oracle-1.json"))
    for seed, (tables, _) in dirs.items():
        checks.suite_views(con, tables, inputs.TABLES)
        for k, sql in oracle.items():
            out = f"{WORK}/suite-{seed}/{k}"
            os.makedirs(out)
            con.execute(f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT parquet)")
            err = checks.check_key(checks.output_record(con, out), want[k])
            expect(f"suite: {k} from seed-{seed} tables against seed-1 oracle",
                   [err] if err else [], seed != 1)
    out = f"{WORK}/suite-reversed"
    os.makedirs(out)
    checks.suite_views(con, dirs[1][0], inputs.TABLES)
    con.execute(f"COPY (SELECT * FROM ({oracle['top_lines']}) ORDER BY l_extendedprice, "
                f"l_orderkey DESC, l_linenumber DESC) TO '{out}/part-0.parquet' (FORMAT parquet)")
    err = checks.check_key(checks.output_record(con, out), want["top_lines"])
    expect("suite: top_lines in reverse order", [err] if err else [], True)
    expect("suite: key without oracle that returns no rows",
           [checks.check_key({"rows": 0}, None)], True)


def main():
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    swivel()
    suite()
    shutil.rmtree(WORK, ignore_errors=True)
    print(f"{len(failures)} wrong decisions")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
