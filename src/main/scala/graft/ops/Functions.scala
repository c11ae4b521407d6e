package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Det._

/** Scalar-function surface — SURVEY.md §2.7 (`fn_*`, `udtf_shingles`).
  *
  * Everything stays inside whole-stage codegen: built-in string/date/math/
  * array/JSON functions and higher-order array functions only — no UDFs.
  *
  * Cross-engine float discipline: `ln`/`pow` are the only libm-dependent
  * outputs and are rounded to 4dp (both engines compute them on
  * bit-identical inputs, so a mismatch needs a value within 1 ulp of a
  * rounding boundary — measure-zero); `sqrt` is IEEE-correctly-rounded and
  * needs no rounding; exact ops (`abs`/`ceil`/`floor`/`%`) are emitted raw.
  */
object Functions {

  val fnString = QueryDef(
    "fn_string",
    """SELECT doc_id,
      |  upper(lang) AS lang_up,
      |  substr(text, 1, 20) AS prefix20,
      |  CAST(length(text) AS BIGINT) AS len,
      |  concat_ws('|', lang, source) AS lang_source,
      |  substr(replace(text, 'spark', 'SPARK'), 1, 30) AS replaced30,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |FROM documents ORDER BY doc_id LIMIT 100""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        upper(col("lang")).as("lang_up"),
        substring(col("text"), 1, 20).as("prefix20"),
        length(col("text")).cast("long").as("len"),
        concat_ws("|", col("lang"), col("source")).as("lang_source"),
        substring(expr("replace(text, 'spark', 'SPARK')"), 1, 30).as("replaced30"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .orderBy("doc_id")
      .limit(100)
  }

  val fnDate = QueryDef(
    "fn_date",
    """SELECT event_id,
      |  date_trunc('hour', ts) AS ts_hour,
      |  CAST(year(ts) AS INT) AS y,
      |  CAST(month(ts) AS INT) AS m,
      |  CAST(dayofweek(ts) + 1 AS INT) AS dow,
      |  epoch_us(ts) AS eus,
      |  epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01') AS delta_us
      |FROM events ORDER BY event_id LIMIT 100""".stripMargin) { (s, d) =>
    // DuckDB dayofweek is 0=Sunday, Spark's is 1=Sunday — aligned via +1 on
    // the oracle side. Epoch microseconds keep all deltas integer-exact.
    val eus = unix_micros(col("ts").cast("timestamp"))
    Tables.events(s, d)
      .select(col("event_id"),
        date_trunc("hour", col("ts")).as("ts_hour"),
        year(col("ts")).as("y"),
        month(col("ts")).as("m"),
        dayofweek(col("ts")).as("dow"),
        eus.as("eus"),
        (eus - unix_micros(lit("2024-01-01").cast("timestamp"))).as("delta_us"))
      .orderBy("event_id")
      .limit(100)
  }

  val fnMath = QueryDef(
    "fn_math",
    """SELECT l_orderkey, l_linenumber, l_quantity,
      |  abs(l_quantity - 25) AS abs_dev,
      |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
      |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
      |  round(pow(l_quantity, 2), 4) AS qty_sq,
      |  round(ln(l_extendedprice), 4) AS price_ln,
      |  round(sqrt(l_extendedprice), 4) AS price_sqrt,
      |  l_orderkey % 7 AS key_mod
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_quantity, price_ceil, price_ln
      |LIMIT 100""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        abs(col("l_quantity") - 25).as("abs_dev"),
        ceil(col("l_extendedprice")).as("price_ceil"),
        floor(col("l_extendedprice")).as("price_floor"),
        round(pow(col("l_quantity"), 2), 4).as("qty_sq"),
        round(log(col("l_extendedprice")), 4).as("price_ln"),
        round(sqrt(col("l_extendedprice")), 4).as("price_sqrt"),
        (col("l_orderkey") % 7).as("key_mod"))
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "price_ceil", "price_ln")
      .limit(100)
  }

  val fnArray = QueryDef(
    "fn_array",
    """SELECT vec_id,
      |  CAST(len(embedding) AS INT) AS dim,
      |  CAST(embedding[1] AS DOUBLE) AS e1,
      |  round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
      |  CAST(embedding[2] AS DOUBLE) AS e2,
      |  CAST(embedding[3] AS DOUBLE) AS e3,
      |  CAST(embedding[4] AS DOUBLE) AS e4
      |FROM embeddings ORDER BY vec_id LIMIT 100""".stripMargin) { (s, d) =>
    // Higher-order array functions; float→double casts are exact, the
    // squared-sum is a sequential left fold on both engines. The array
    // prefix is flattened to scalar columns e1..e4 so the gate's pandas
    // diff can sort the output (it cannot order array cells).
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).cast("double").as("e1"),
        round(sqrt(aggregate(
          transform(col("embedding"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, x) => acc + x)), 4).as("l2_norm"),
        element_at(col("embedding"), 2).cast("double").as("e2"),
        element_at(col("embedding"), 3).cast("double").as("e3"),
        element_at(col("embedding"), 4).cast("double").as("e4"))
      .orderBy("vec_id")
      .limit(100)
  }

  val fnJson = QueryDef(
    "fn_json",
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      |  CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
      |  CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
      |FROM events GROUP BY k_mod ORDER BY k_mod""".stripMargin) { (s, d) =>
    // Parse the JSON once per row (a repeated get_json_object in each
    // aggregate would re-parse the string 5×).
    Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("k_mod")
  }

  /** Distinct 3-gram token shingles per document — the generator/UDTF
    * representative (a pure higher-order-function pipeline, no custom
    * Generator needed: transform over an index sequence + explode). Also
    * the candidate-generation primitive for `dedup_near`.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    val slid = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(toks) - $n), i -> " +
        (0 until n).map(j => s"toks[i + $j]").mkString("concat_ws(' ', ", ", ", ")") +
        ")")).as("shingle"))
    slid.distinct()
  }

  private val shingleCte =
    """WITH pos AS (
      |  SELECT doc_id,
      |         unnest(string_split(text, ' ')) AS tok,
      |         generate_subscripts(string_split(text, ' '), 1) AS p
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id,
      |         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
      |  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY p)
      |)""".stripMargin

  val udtfShingles = QueryDef(
    "udtf_shingles",
    s"""$shingleCte
       |SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL
       |ORDER BY doc_id, shingle""".stripMargin) { (s, d) =>
    shingles(Tables.documents(s, d)).orderBy("doc_id", "shingle")
  }

  /** DuckDB twin of `shingles` over a (doc_id, text) relation `rel`: the
    * shingle CTEs plus `shd`, the distinct (doc_id, shingle) relation.
    * Over `documents` it opens the WITH; over any other relation (a
    * derived corpus such as the exact-dedup keeper set) it starts
    * mid-WITH, so callers open the WITH and define `rel` first. */
  def distinctShingleCte(rel: String): String = {
    val sh = if (rel == "documents") shingleCte
      else shingleCte.replace("WITH pos AS", "pos AS").replace("FROM documents", s"FROM $rel")
    sh + ",\nshd AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL)"
  }

  /** Cryptographic hash surface — md5 and sha256 over customer names.
    * Both engines emit lowercase hex over the identical UTF-8 bytes, so
    * the digests are bit-identical (md5 is already the repo's only shared
    * hash per §2.9; sha256 extends the surface the same way). */
  val fnHash = QueryDef(
    "fn_hash",
    """SELECT c_custkey, md5(c_name) AS h_md5, sha256(c_name) AS h_sha256
      |FROM customer ORDER BY c_custkey LIMIT 200""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .select(col("c_custkey"), md5(col("c_name")).as("h_md5"),
        sha2(col("c_name"), 256).as("h_sha256"))
      .orderBy("c_custkey")
      .limit(200)
  }

  /** Nested-type surface: build a nested struct (scalar + inner struct +
    * integer array) from the row's own columns, serialize with to_json,
    * parse back with a schema-carrying from_json, and emit fields reached
    * through nested access (struct.field, inner.field, array index).
    * The emitted scalars are trivially re-derivable — which is exactly
    * the point: the oracle computes them directly from the base columns,
    * so the driver's hash certifies Spark's construct→serialize→parse→
    * access chain is lossless (the fn_json analog of the format
    * round-trip keys). Integers only inside the JSON — float formatting
    * is writer-defined and never crosses the boundary. */
  val fnStruct = QueryDef(
    "fn_struct",
    """SELECT event_id,
      |       user_id AS u,
      |       event_type AS t,
      |       event_id % 11 AS arr1
      |FROM events ORDER BY event_id LIMIT 200""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("who", StructType(Seq(
        StructField("u", LongType), StructField("t", StringType)))),
      StructField("arr", ArrayType(LongType))))
    val j = to_json(struct(
      col("event_id").as("id"),
      struct(col("user_id").as("u"), col("event_type").as("t")).as("who"),
      array(col("event_id") % 7, col("event_id") % 11).as("arr")))
    Tables.events(s, d)
      .select(col("event_id"), from_json(j, schema).as("s"))
      .select(col("event_id"),
        col("s.who.u").as("u"),
        col("s.who.t").as("t"),
        element_at(col("s.arr"), 2).as("arr1"))
      .orderBy("event_id")
      .limit(200)
  }

  /** VARIANT surface (Spark 4's semi-structured type — the schema-on-
    * read path for ragged JSON at scale: parse once to the binary
    * variant encoding, then typed path extraction without re-parsing).
    * Same live-payload discipline as fn_struct: a nested JSON document
    * is built from the row's own columns, parsed with parse_json, and
    * read back through variant_get typed paths (nested object, array
    * index). The oracle re-derives the emitted scalars from the base
    * columns — the hash certifies build→parse→extract is lossless. */
  val fnVariant = QueryDef(
    "fn_variant",
    """SELECT event_id,
      |       user_id AS u,
      |       event_type AS t,
      |       event_id % 13 AS arr0
      |FROM events ORDER BY event_id LIMIT 200""".stripMargin) { (s, d) =>
    val j = concat(
      lit("""{"who": {"u": """), col("user_id"),
      lit(""", "t": """"), col("event_type"),
      lit(""""}, "arr": ["""), col("event_id") % 13,
      lit(""", 0]}"""))
    Tables.events(s, d)
      .select(col("event_id"), parse_json(j).as("v"))
      .select(col("event_id"),
        variant_get(col("v"), "$.who.u", "long").as("u"),
        variant_get(col("v"), "$.who.t", "string").as("t"),
        variant_get(col("v"), "$.arr[0]", "long").as("arr0"))
      .orderBy("event_id")
      .limit(200)
  }

  /** MapType surface: map construction (map_from_arrays), key lookup
    * (element_at), cardinality, and a DETERMINISTIC key listing
    * (array_join of sorted keys — map iteration order is engine-defined
    * and never crosses the boundary; the sort makes it total). Emitted
    * columns are scalars/strings the oracle re-derives directly. */
  val fnMap = QueryDef(
    "fn_map",
    """SELECT event_id,
      |       event_type AS type_val,
      |       CAST(user_id AS VARCHAR) AS user_val,
      |       2 AS n_keys,
      |       'type,user' AS keys_sorted
      |FROM events ORDER BY event_id LIMIT 200""".stripMargin) { (s, d) =>
    val m = map_from_arrays(
      array(lit("type"), lit("user")),
      array(col("event_type"), col("user_id").cast("string")))
    Tables.events(s, d)
      .select(col("event_id"), m.as("m"))
      .select(col("event_id"),
        element_at(col("m"), "type").as("type_val"),
        element_at(col("m"), "user").as("user_val"),
        size(col("m")).as("n_keys"),
        array_join(array_sort(map_keys(col("m"))), ",").as("keys_sorted"))
      .orderBy("event_id")
      .limit(200)
  }

  /** Regular-expression surface: extract / count / replace-all / match
    * predicate over the documents text. Patterns stay in the Java∩RE2
    * intersection (literal classes, alternation, `\b` ASCII word
    * boundaries — no backreferences or lookaround, which RE2 lacks), so
    * both engines compile the same language; the corpus is lowercase
    * ASCII words, so `\b` semantics cannot diverge on Unicode edge cases.
    * Dialect deltas handled per §2.9: Spark `regexp_replace` replaces ALL
    * matches — DuckDB needs the explicit `'g'` flag; Spark `rlike` and
    * DuckDB `regexp_matches` are both partial-match. All expressions are
    * codegen'd scan-stage projections — no UDF, no shuffle beyond the
    * ordered output. */
  val fnRegex = QueryDef(
    "fn_regex",
    """SELECT doc_id,
      |  regexp_extract(text, '\b([a-z]{6,})\b', 1) AS first_long,
      |  CAST(len(regexp_extract_all(text, '\bta[a-z]+\b')) AS BIGINT) AS n_ta,
      |  substr(regexp_replace(text, '\b(table|row)\b', '<T>', 'g'), 1, 40) AS repl40,
      |  regexp_matches(text, 'stream [a-z]+ fast') AS has_seq
      |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_extract(col("text"), "\\b([a-z]{6,})\\b", 1).as("first_long"),
        regexp_count(col("text"), lit("\\bta[a-z]+\\b")).cast("long").as("n_ta"),
        substring(regexp_replace(col("text"), "\\b(table|row)\\b", "<T>"), 1, 40)
          .as("repl40"),
        col("text").rlike("stream [a-z]+ fast").as("has_seq"))
      .orderBy("doc_id")
      .limit(200)
  }

  /** Interval/calendar arithmetic — the datetime surface `fn_date`'s
    * field extraction does not reach: interval addition/subtraction,
    * date-boundary day differences, month-end, clamped month addition,
    * ISO week truncation. Dialect parities relied on (each spot-checked):
    * both engines clamp month addition at month ends (Jan 31 + 1 mo →
    * Feb 29 in 2024), truncate weeks to Monday, and subtract DATEs as
    * whole days. All pure scan-stage projections on the NTZ timestamp —
    * exact integer/calendar ops, no floats anywhere. */
  val fnDatetime = QueryDef(
    "fn_datetime",
    """SELECT event_id,
      |  ts + INTERVAL 90 DAY AS ts_plus_90d,
      |  ts - INTERVAL 36 HOUR AS ts_minus_36h,
      |  CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS days_since,
      |  last_day(CAST(ts AS DATE)) AS month_end,
      |  CAST(CAST(ts AS DATE) + INTERVAL 1 MONTH AS DATE) AS plus_month,
      |  date_trunc('week', ts) AS week_start
      |FROM events ORDER BY event_id LIMIT 200""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        (col("ts") + expr("INTERVAL 90 DAY")).as("ts_plus_90d"),
        (col("ts") - expr("INTERVAL 36 HOUR")).as("ts_minus_36h"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("days_since"),
        last_day(col("ts").cast("date")).as("month_end"),
        add_months(col("ts").cast("date"), 1).as("plus_month"),
        // DuckDB's week-truncate lands on DATE (midnight Monday) — match it
        date_trunc("week", col("ts")).cast("date").as("week_start"))
      .orderBy("event_id")
      .limit(200)
  }

  /** URL parsing — the component extraction every crawl/referrer pipeline
    * runs at the scan stage. The corpus carries no URL column, so each
    * row first BUILDS one deterministically from its own fields (the
    * text_strip_markup fake-payload discipline), then Spark's native
    * `parse_url` expression takes it apart: HOST / PATH / QUERY plus
    * keyed query-parameter extraction. DuckDB has no parse_url, so the
    * oracle derives the identical components from the same source
    * columns directly — the hash gate therefore certifies that parse_url
    * exactly INVERTS the construction (and with it RFC component
    * boundaries: host ends at '/', path at '?', parameters split on
    * '&'/'='). Grouped rollup keeps host-cardinality output; min(path)/
    * min(query) witnesses pin the row-level strings, not just counts. */
  val fnUrl = QueryDef(
    "fn_url",
    """WITH u AS (
      |  SELECT doc_id,
      |         source || '.example.com' AS host,
      |         '/' || lang || '/doc-' || CAST(doc_id AS VARCHAR) AS path,
      |         'ref=' || CAST(doc_id % 7 AS VARCHAR)
      |           || '&p=' || CAST(n_chars % 13 AS VARCHAR) AS query,
      |         CAST(doc_id % 7 AS VARCHAR) AS ref
      |  FROM documents
      |)
      |SELECT host, ref,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       min(path) AS min_path,
      |       min(query) AS min_query
      |FROM u GROUP BY host, ref
      |ORDER BY host, ref""".stripMargin) { (s, d) =>
    val url = concat(lit("https://"), col("source"), lit(".example.com/"),
      col("lang"), lit("/doc-"), col("doc_id").cast("string"),
      lit("?ref="), (col("doc_id") % 7).cast("string"),
      lit("&p="), (col("n_chars") % 13).cast("string"))
    Tables.documents(s, d)
      .select(parse_url(url, lit("HOST")).as("host"),
        parse_url(url, lit("PATH")).as("path"),
        parse_url(url, lit("QUERY")).as("query"),
        parse_url(url, lit("QUERY"), lit("ref")).as("ref"))
      .groupBy("host", "ref")
      .agg(count(lit(1)).as("n_docs"),
        min(col("path")).as("min_path"),
        min(col("query")).as("min_query"))
      .orderBy("host", "ref")
  }

  /** Error-safe expression surface (`try_*`) — the ANSI-mode safety
    * valve every ingest pipeline needs: malformed casts and
    * divide-by-zero yield NULL instead of failing the job. Dirty inputs
    * are derived deterministically from the row itself (every 3rd
    * doc_id's numeric string gets a trailing 'x'; every 5th divisor is
    * zero), so both the success and the null path are live at every SF.
    * DuckDB's TRY_CAST is the same contract; try_divide crosses as
    * NULLIF on the divisor. Aggregated counts + exact sums pin which
    * rows nulled, not just how many. */
  val fnTry = QueryDef(
    "fn_try",
    """WITH t AS (
      |  SELECT doc_id, n_chars,
      |         CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars AS VARCHAR) || 'x'
      |              ELSE CAST(n_chars AS VARCHAR) END AS num_str,
      |         doc_id % 5 AS divisor
      |  FROM documents
      |), p AS (
      |  SELECT TRY_CAST(num_str AS BIGINT) AS parsed,
      |         n_chars // NULLIF(divisor, 0) AS quot
      |  FROM t
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(count(parsed) AS BIGINT) AS n_parsed,
      |       CAST(sum(parsed) AS BIGINT) AS sum_parsed,
      |       CAST(count(quot) AS BIGINT) AS n_quot,
      |       CAST(sum(quot) AS BIGINT) AS sum_quot
      |FROM p""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        when(col("doc_id") % 3 === 0,
          concat(col("n_chars").cast("string"), lit("x")))
          .otherwise(col("n_chars").cast("string")).as("num_str"),
        (col("doc_id") % 5).as("divisor"))
      .select(
        expr("try_cast(num_str AS BIGINT)").as("parsed"),
        // integer floor quotient with a null divisor contract: try_divide
        // is double division, so cross the exact path via nullif + div
        expr("n_chars div nullif(divisor, 0)").as("quot"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("parsed")).as("n_parsed"),
        sum(col("parsed")).as("sum_parsed"),
        count(col("quot")).as("n_quot"),
        sum(col("quot")).as("sum_quot"))
  }

  val all: Seq[QueryDef] = Seq(fnString, fnDate, fnMath, fnArray, fnJson,
    udtfShingles, fnHash, fnStruct, fnVariant, fnMap, fnRegex, fnDatetime,
    fnUrl, fnTry)
}
