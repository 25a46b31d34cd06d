package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Remaining surface-area queries: the pivot() API, HLL approximate
  * distinct, spark.ml LSH as an alternative ANN provider, and
  * VariantType-style semi-structured JSON access. */
object MiscQueries {

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------
    // q23 — the relational pivot() API (q17 is the conditional-agg form;
    // this is the dedicated operator, fixed pivot values so the plan is
    // a single pass, no value-discovery job).
    Q(
      "q23_pivot_api",
      """SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy((col("user_id") % 10).cast("bigint").as("user_bucket"))
        .pivot("event_type", Seq("click", "view", "purchase", "error"))
        .count()
        .na.fill(0L)
        .orderBy(col("user_bucket"))
    },

    // ---------------------------------------------------------------
    // q24 — approx_count_distinct (HLL++, built-in — SURVEY.md §2B).
    // Bound-style oracle: DuckDB recomputes the exact distinct count per
    // group and a TRUE flag; Spark outputs its exact count (hash-checked
    // against DuckDB's) plus whether the HLL estimate landed within 3×
    // the requested rsd — an estimate outside the bound hash-mismatches.
    Q(
      "q24_approx_distinct",
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  CAST(TRUE AS BOOLEAN) AS within_rsd
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), rsd = 0.02).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts"))
            <= col("exact_parts") * (3 * 0.02)).as("within_rsd"))
        .orderBy(col("l_returnflag"))
    },

    // ---------------------------------------------------------------
    // q27 — percentile/quantile aggregates: exact linear-interpolation
    // percentiles per group (Spark `percentile` ≡ DuckDB
    // `quantile_cont`, same type-7 interpolation; round(6) absorbs the
    // last-ulp formula difference) plus a q24-style bound flag for the
    // mergeable approx_percentile sketch (the 100 TB path — the exact
    // form sorts each group, the sketch is a fixed-size partial
    // aggregate): the estimate must land within 5% of the exact
    // median or the flag hash-mismatches.
    Q(
      "q27_percentiles",
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
        |  round(quantile_cont(l_extendedprice, 0.90), 6) AS p90,
        |  CAST(TRUE AS BOOLEAN) AS approx_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.9))")
            .as("exact"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("amed"))
        .select(col("l_returnflag"),
          round(col("exact").getItem(0), 6).as("p25"),
          round(col("exact").getItem(1), 6).as("p50"),
          round(col("exact").getItem(2), 6).as("p75"),
          round(col("exact").getItem(3), 6).as("p90"),
          (abs(col("amed") - col("exact").getItem(1))
            <= col("exact").getItem(1) * 0.05).as("approx_ok"))
        .orderBy(col("l_returnflag"))
    },

    // ---------------------------------------------------------------
    // s03 — spark.ml BucketedRandomProjectionLSH as an alternative ANN
    // provider. The hash family is Spark-internal, but the JOIN's output
    // is exactly-checkable: approxSimilarityJoin post-filters candidates
    // by true Euclidean distance, so with enough hash tables (15 here —
    // seeded, deterministic) every same-radius pair collides in some
    // table and the result EQUALS the exact neighbor set, which DuckDB
    // computes brute-force. ml's sqdist and DuckDB's list fold both sum
    // in dimension order, so the distance doubles are bit-identical and
    // the radius cut agrees. A recall miss would hash-mismatch.
    Q(
      "s03_ann_ml_lsh",
      """WITH base AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM base WHERE vec_id < 100),
        |scored AS (
        |  SELECT q_id, c.vec_id AS neighbor_id,
        |    sqrt(list_aggregate(list_transform(generate_series(1, 64),
        |      i -> (qv[i] - c.v[i]) * (qv[i] - c.v[i])), 'sum')) AS dist
        |  FROM q CROSS JOIN base c WHERE c.vec_id <> q_id)
        |SELECT q_id, neighbor_id, round(dist, 6) AS dist
        |FROM scored WHERE dist < 1.2
        |ORDER BY q_id, neighbor_id""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
      import org.apache.spark.ml.functions.array_to_vector
      // built-in array->vector conversion (float widens to double) —
      // no UDF, the projection stays codegen-friendly
      val df = Tables(s, dir, "embeddings")
        .select(col("vec_id"), array_to_vector(col("embedding")).as("features"))
      val lsh = new BucketedRandomProjectionLSH()
        .setBucketLength(8.0).setNumHashTables(15).setSeed(42L)
        .setInputCol("features").setOutputCol("hashes")
      val model = lsh.fit(df)
      // query-subset vs corpus (the s01/s02 shape) — the corpus-side
      // bucketing is what scales; the query set stays bounded
      val queries = df.filter(col("vec_id") < 100)
        .withColumnRenamed("vec_id", "q_id")
      model.approxSimilarityJoin(queries, df, 1.2, "dist")
        .select(
          col("datasetA.q_id").as("q_id"),
          col("datasetB.vec_id").as("neighbor_id"),
          round(col("dist"), 6).as("dist"))
        .filter(col("q_id") =!= col("neighbor_id"))
        .orderBy(col("q_id"), col("neighbor_id"))
    },

    // ---------------------------------------------------------------
    // q25 — salted aggregation: the skew pattern. A hot grouping key is
    // split across 16 salt shards (partial agg per (key, salt)), then
    // the shards are re-combined — two small shuffles instead of one
    // skewed one. Same result as a plain groupBy, which is what the
    // oracle computes.
    Q(
      "q25_salted_aggregation",
      """SELECT CAST(user_id % 3 AS BIGINT) AS hot_key,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val salted = Tables(s, dir, "events")
        .withColumn("hot_key", (col("user_id") % 3).cast("bigint"))
        .withColumn("salt", pmod(col("event_id"), lit(16)))
      val partial = salted.groupBy(col("hot_key"), col("salt"))
        .agg(count(lit(1)).as("pn"),
          sum(col("value").cast(DecimalType(18, 2))).as("psum"))
      partial.groupBy(col("hot_key"))
        .agg(sum(col("pn")).as("n"),
          sum(col("psum")).cast("double").as("sum_value"))
        .orderBy(col("hot_key"))
    },

    // ---------------------------------------------------------------
    // q26 — the custom GroupTopK operator (LogicalPlan + Strategy +
    // partial/final SparkPlan, graft.plans): top-3 lineitems per order
    // by price. The window form shuffles and sorts whole groups; this
    // shuffles at most k rows per (group, input partition). The oracle
    // computes the identical semantics with a window.
    Q(
      "q26_group_topk",
      """SELECT l_orderkey, l_linenumber, price FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(l_extendedprice AS DOUBLE) AS price,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
        |  FROM lineitem) t
        |WHERE rn <= 3
        |ORDER BY l_orderkey, price DESC, l_linenumber""".stripMargin
    ) { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").cast("double").as("price"))
      graft.plans.GroupTopK.topK(li, Seq(col("l_orderkey")), 3,
          col("price").desc, col("l_linenumber").asc)
        .orderBy(col("l_orderkey"), col("price").desc, col("l_linenumber"))
    },

    // ---------------------------------------------------------------
    // v01 — semi-structured JSON access over the events props column
    // (the VariantType path for heterogeneous payloads: parse once,
    // extract typed fields lazily).
    Q(
      "v01_variant_json",
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract(props, '$.k') AS BIGINT) % 7 AS k_mod
        |FROM events
        |WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 50
        |ORDER BY event_id""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .select(col("event_id"),
          variant_get(parse_json(col("props")), "$.k", "bigint").as("k"))
        .withColumn("k_mod", col("k") % 7)
        .filter(col("k") > 50)
        .orderBy(col("event_id"))
    },

    // ---------------------------------------------------------------
    // v02 — variant typed-path extraction over HETEROGENEOUS payloads
    // (SURVEY §1.4: VariantType is the heterogeneous-JSON answer; v01
    // was one flat key). Payload SHAPE varies by event_type — nested
    // object (click/view), numeric field + array (purchase), string
    // field (everything else) — built deterministically from integer
    // columns so both engines assemble byte-identical JSON. Parse
    // ONCE to variant, then typed-path extraction: a path absent in a
    // row's shape yields SQL NULL (never an error) — the contract
    // that lets one reader serve a topic of mixed producers. Scale:
    // parse + gets are a single codegen'd projection; at 100 TB the
    // variant binary encoding shreds columnar and paths prune at the
    // scan (the reason to prefer it over per-query JSON re-parsing).
    Q(
      "v02_variant_typed_paths",
      """WITH p AS (
        |  SELECT event_id,
        |    CASE
        |      WHEN event_type IN ('click', 'view') THEN
        |        '{"k":' || CAST(json_extract(props, '$.k') AS VARCHAR) ||
        |        ',"pos":{"x":' || CAST(user_id % 100 AS VARCHAR) ||
        |        ',"y":' || CAST(event_id % 37 AS VARCHAR) || '}}'
        |      WHEN event_type = 'purchase' THEN
        |        '{"k":' || CAST(json_extract(props, '$.k') AS VARCHAR) ||
        |        ',"cents":' || CAST((event_id * 37 + user_id) % 10000 AS VARCHAR) ||
        |        ',"items":[' || CAST(event_id % 5 AS VARCHAR) || ',' ||
        |        CAST(event_id % 7 AS VARCHAR) || ']}'
        |      ELSE
        |        '{"k":' || CAST(json_extract(props, '$.k') AS VARCHAR) ||
        |        ',"msg":"e' || CAST(event_id % 13 AS VARCHAR) || '"}'
        |    END AS payload
        |  FROM events)
        |SELECT event_id,
        |  CAST(json_extract(payload, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract(payload, '$.pos.x') AS BIGINT) AS pos_x,
        |  CAST(json_extract(payload, '$.cents') AS BIGINT) AS cents,
        |  CAST(json_extract(payload, '$.items[0]') AS BIGINT) AS item0,
        |  json_extract_string(payload, '$.msg') AS msg
        |FROM p ORDER BY event_id""".stripMargin
    ) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val k = variant_get(parse_json(col("props")), "$.k", "bigint")
        .cast("string")
      val payload = when(col("event_type").isin("click", "view"),
          concat(lit("{\"k\":"), k,
            lit(",\"pos\":{\"x\":"), (col("user_id") % 100).cast("string"),
            lit(",\"y\":"), (col("event_id") % 37).cast("string"),
            lit("}}")))
        .when(col("event_type") === "purchase",
          concat(lit("{\"k\":"), k,
            lit(",\"cents\":"),
            ((col("event_id") * 37 + col("user_id")) % 10000).cast("string"),
            lit(",\"items\":["), (col("event_id") % 5).cast("string"),
            lit(","), (col("event_id") % 7).cast("string"), lit("]}")))
        .otherwise(
          concat(lit("{\"k\":"), k,
            lit(",\"msg\":\"e"), (col("event_id") % 13).cast("string"),
            lit("\"}")))
      ev.select(col("event_id"), parse_json(payload).as("v"))
        .select(col("event_id"),
          variant_get(col("v"), "$.k", "bigint").as("k"),
          variant_get(col("v"), "$.pos.x", "bigint").as("pos_x"),
          variant_get(col("v"), "$.cents", "bigint").as("cents"),
          variant_get(col("v"), "$.items[0]", "bigint").as("item0"),
          variant_get(col("v"), "$.msg", "string").as("msg"))
        .orderBy(col("event_id"))
    },

    // ---------------------------------------------------------------
    // v03 — schema DRIFT in one topic: v1 producers emit {"k":n}, v2
    // producers add a nested meta block — the mid-rollout reality of
    // any long-lived stream. One variant reader serves both: new
    // fields read as NULL on old rows and coalesce to rollout
    // defaults, so the drift report (rows + k-mass per producer
    // version/source) needs no schema migration, no reprocess, no
    // dual pipeline. Aggregation is one partial-agg'd pass over a
    // codegen'd projection.
    Q(
      "v03_variant_schema_drift",
      """WITH p AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 3 = 0 THEN
        |      '{"k":' || CAST(json_extract(props, '$.k') AS VARCHAR) ||
        |      ',"meta":{"ver":2,"src":"ing-' ||
        |      CAST(event_id % 4 AS VARCHAR) || '"}}'
        |    ELSE
        |      '{"k":' || CAST(json_extract(props, '$.k') AS VARCHAR) || '}'
        |    END AS payload
        |  FROM events)
        |SELECT
        |  COALESCE(CAST(json_extract(payload, '$.meta.ver') AS BIGINT), 1)
        |    AS ver,
        |  COALESCE(json_extract_string(payload, '$.meta.src'), 'legacy')
        |    AS src,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract(payload, '$.k') AS BIGINT)) AS BIGINT)
        |    AS sum_k
        |FROM p GROUP BY 1, 2 ORDER BY ver, src""".stripMargin
    ) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val k = variant_get(parse_json(col("props")), "$.k", "bigint")
        .cast("string")
      val payload = when(col("event_id") % 3 === 0,
          concat(lit("{\"k\":"), k,
            lit(",\"meta\":{\"ver\":2,\"src\":\"ing-"),
            (col("event_id") % 4).cast("string"), lit("\"}}")))
        .otherwise(concat(lit("{\"k\":"), k, lit("}")))
      ev.select(parse_json(payload).as("v"))
        .select(
          coalesce(variant_get(col("v"), "$.meta.ver", "bigint"), lit(1L))
            .as("ver"),
          coalesce(variant_get(col("v"), "$.meta.src", "string"),
            lit("legacy")).as("src"),
          variant_get(col("v"), "$.k", "bigint").as("k"))
        .groupBy(col("ver"), col("src"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("k")).cast("long").as("sum_k"))
        .orderBy(col("ver"), col("src"))
    },

    // ---------------------------------------------------------------
    // v04 — per-row TYPE dispatch + cast-vs-variant coercion: field v
    // is a number, a string (sometimes numeric-looking), an array, or
    // JSON null depending on the row. schema_of_variant drives the
    // dispatch (BIGINT/STRING/ARRAY<...>/VOID, the names Spark 4.1
    // returns for these shapes), is_variant_null separates JSON null from a
    // missing path, and try_variant_get shows cast semantics: a
    // numeric STRING coerces to bigint ("42" → 42, the variant cast
    // rule), a non-numeric one nulls instead of erroring — mirrored
    // in DuckDB by json_type + TRY_CAST of the extracted text. The
    // report aggregates per dispatched type: row count, variant-null
    // count, how many rows coerced, and the coerced mass.
    Q(
      "v04_variant_type_dispatch",
      """WITH p AS (
        |  SELECT event_id, user_id,
        |    CASE CAST(event_id % 4 AS INTEGER)
        |      WHEN 0 THEN '{"v":' || CAST(user_id % 1000 AS VARCHAR) || '}'
        |      WHEN 1 THEN CASE WHEN event_id % 8 = 1
        |        THEN '{"v":"' || CAST(user_id % 1000 AS VARCHAR) || '"}'
        |        ELSE '{"v":"s' || CAST(event_id % 11 AS VARCHAR) || '"}' END
        |      WHEN 2 THEN '{"v":[' || CAST(event_id % 5 AS VARCHAR) || ',' ||
        |        CAST(user_id % 9 AS VARCHAR) || ']}'
        |      ELSE '{"v":null}'
        |    END AS payload
        |  FROM events),
        |t AS (
        |  SELECT
        |    CASE json_type(payload, '$.v')
        |      WHEN 'UBIGINT' THEN 'num' WHEN 'BIGINT' THEN 'num'
        |      WHEN 'VARCHAR' THEN 'str'
        |      WHEN 'ARRAY' THEN 'arr'
        |      WHEN 'NULL' THEN 'vnull'
        |      ELSE 'other' END AS vtype,
        |    CASE WHEN json_type(payload, '$.v') = 'NULL' THEN 1 ELSE 0 END
        |      AS is_vnull,
        |    TRY_CAST(json_extract_string(payload, '$.v') AS BIGINT)
        |      AS coerced
        |  FROM p)
        |SELECT vtype, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(is_vnull) AS BIGINT) AS n_variant_null,
        |  CAST(count(coerced) AS BIGINT) AS n_coerced,
        |  CAST(sum(coerced) AS BIGINT) AS coerced_mass
        |FROM t GROUP BY vtype ORDER BY vtype""".stripMargin
    ) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val payload = when(col("event_id") % 4 === 0,
          concat(lit("{\"v\":"), (col("user_id") % 1000).cast("string"),
            lit("}")))
        .when(col("event_id") % 4 === 1,
          when(col("event_id") % 8 === 1,
            concat(lit("{\"v\":\""), (col("user_id") % 1000).cast("string"),
              lit("\"}")))
          .otherwise(concat(lit("{\"v\":\"s"),
            (col("event_id") % 11).cast("string"), lit("\"}"))))
        .when(col("event_id") % 4 === 2,
          concat(lit("{\"v\":["), (col("event_id") % 5).cast("string"),
            lit(","), (col("user_id") % 9).cast("string"), lit("]}")))
        .otherwise(lit("{\"v\":null}"))
      ev.select(parse_json(payload).as("v"))
        .select(
          when(expr("schema_of_variant(variant_get(v, '$.v'))") === "VOID",
              "vnull")
            .when(expr("schema_of_variant(variant_get(v, '$.v'))")
              .isin("TINYINT", "SMALLINT", "INT", "BIGINT"), "num")
            .when(expr("schema_of_variant(variant_get(v, '$.v'))")
              === "STRING", "str")
            .when(expr("schema_of_variant(variant_get(v, '$.v'))")
              .startsWith("ARRAY"), "arr")
            .otherwise("other").as("vtype"),
          when(expr("is_variant_null(variant_get(v, '$.v'))"), 1L)
            .otherwise(0L).as("is_vnull"),
          expr("try_variant_get(v, '$.v', 'bigint')").as("coerced"))
        .groupBy(col("vtype"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("is_vnull")).cast("long").as("n_variant_null"),
          count(col("coerced")).cast("long").as("n_coerced"),
          sum(col("coerced")).cast("long").as("coerced_mass"))
        .orderBy(col("vtype"))
    },

    // ---------------------------------------------------------------
    // v05 — SHREDDING profile: the report an ingest pipeline runs over
    // a variant column to decide which paths to materialize as typed
    // parquet columns (Spark's variant shredding writes exactly these:
    // per path — presence, JSON-null rate, type mix, and whether the
    // path coerces cleanly to the target type). Payload is v02's
    // heterogeneous mix plus a JSON null at $.k on every 5th event, so
    // all three per-path states (missing / JSON null / typed) occur.
    // Shape at 100 TB: ONE partial-agg'd pass computes all 6 paths ×
    // 6 measures as flat aggregate columns (no per-path explode — the
    // row stream is scanned once); the 1-row aggregate then unpivots
    // via stack to the per-path report. A path's n_num vs n_str split
    // IS the shredding decision; shred_sum is the mass the typed
    // column would carry.
    Q(
      "v05_variant_shredding",
      """WITH p AS (
        |  SELECT event_id,
        |    CASE
        |      WHEN event_type IN ('click', 'view') THEN
        |        '{"k":' || (CASE WHEN event_id % 5 = 0 THEN 'null'
        |          ELSE CAST(json_extract(props, '$.k') AS VARCHAR) END) ||
        |        ',"pos":{"x":' || CAST(user_id % 100 AS VARCHAR) ||
        |        ',"y":' || CAST(event_id % 37 AS VARCHAR) || '}}'
        |      WHEN event_type = 'purchase' THEN
        |        '{"k":' || (CASE WHEN event_id % 5 = 0 THEN 'null'
        |          ELSE CAST(json_extract(props, '$.k') AS VARCHAR) END) ||
        |        ',"cents":' || CAST((event_id * 37 + user_id) % 10000 AS VARCHAR) ||
        |        ',"items":[' || CAST(event_id % 5 AS VARCHAR) || ',' ||
        |        CAST(event_id % 7 AS VARCHAR) || ']}'
        |      ELSE
        |        '{"k":' || (CASE WHEN event_id % 5 = 0 THEN 'null'
        |          ELSE CAST(json_extract(props, '$.k') AS VARCHAR) END) ||
        |        ',"msg":"e' || CAST(event_id % 13 AS VARCHAR) || '"}'
        |    END AS payload
        |  FROM events),
        |t AS (
        |  -- json_type is the presence probe: it returns 'NULL' for a
        |  -- JSON null (present) and SQL NULL only for a MISSING path,
        |  -- where json_extract collapses both to SQL NULL. Paths are
        |  -- unrolled as CONSTANTS: DuckDB's column-path json_type
        |  -- variant conflates JSON null with missing (measured).
        |  SELECT '$.k' AS path, json_type(payload, '$.k') AS jt,
        |    TRY_CAST(json_extract_string(payload, '$.k') AS BIGINT) AS co
        |  FROM p
        |  UNION ALL SELECT '$.pos.x', json_type(payload, '$.pos.x'),
        |    TRY_CAST(json_extract_string(payload, '$.pos.x') AS BIGINT)
        |  FROM p
        |  UNION ALL SELECT '$.cents', json_type(payload, '$.cents'),
        |    TRY_CAST(json_extract_string(payload, '$.cents') AS BIGINT)
        |  FROM p
        |  UNION ALL SELECT '$.items[0]', json_type(payload, '$.items[0]'),
        |    TRY_CAST(json_extract_string(payload, '$.items[0]') AS BIGINT)
        |  FROM p
        |  UNION ALL SELECT '$.items[1]', json_type(payload, '$.items[1]'),
        |    TRY_CAST(json_extract_string(payload, '$.items[1]') AS BIGINT)
        |  FROM p
        |  UNION ALL SELECT '$.msg', json_type(payload, '$.msg'),
        |    TRY_CAST(json_extract_string(payload, '$.msg') AS BIGINT)
        |  FROM p)
        |SELECT path,
        |  CAST(count(jt) AS BIGINT) AS n_present,
        |  CAST(count(CASE WHEN jt = 'NULL' THEN 1 END) AS BIGINT)
        |    AS n_vnull,
        |  CAST(count(CASE WHEN jt IN ('BIGINT', 'UBIGINT') THEN 1 END)
        |    AS BIGINT) AS n_num,
        |  CAST(count(CASE WHEN jt = 'VARCHAR' THEN 1 END) AS BIGINT)
        |    AS n_str,
        |  CAST(count(co) AS BIGINT) AS n_coerced,
        |  CAST(COALESCE(sum(co), 0) AS BIGINT) AS shred_sum
        |FROM t GROUP BY path ORDER BY path""".stripMargin
    ) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val k = variant_get(parse_json(col("props")), "$.k", "bigint")
        .cast("string")
      val kOrNull = when(col("event_id") % 5 === 0, lit("null")).otherwise(k)
      val payload = when(col("event_type").isin("click", "view"),
          concat(lit("{\"k\":"), kOrNull,
            lit(",\"pos\":{\"x\":"), (col("user_id") % 100).cast("string"),
            lit(",\"y\":"), (col("event_id") % 37).cast("string"),
            lit("}}")))
        .when(col("event_type") === "purchase",
          concat(lit("{\"k\":"), kOrNull,
            lit(",\"cents\":"),
            ((col("event_id") * 37 + col("user_id")) % 10000).cast("string"),
            lit(",\"items\":["), (col("event_id") % 5).cast("string"),
            lit(","), (col("event_id") % 7).cast("string"), lit("]}")))
        .otherwise(
          concat(lit("{\"k\":"), kOrNull,
            lit(",\"msg\":\"e"), (col("event_id") % 13).cast("string"),
            lit("\"}")))
      val paths = Seq("$.k" -> "k", "$.pos.x" -> "posx",
        "$.cents" -> "cents", "$.items[0]" -> "item0",
        "$.items[1]" -> "item1", "$.msg" -> "msg")
      val aggs = paths.flatMap { case (p, t) =>
        val num = Seq("TINYINT", "SMALLINT", "INT", "BIGINT")
        Seq(
          sum(when(expr(s"variant_get(v, '$p') IS NOT NULL"), 1L)
            .otherwise(0L)).as(s"${t}_present"),
          sum(when(expr(s"is_variant_null(variant_get(v, '$p'))"), 1L)
            .otherwise(0L)).as(s"${t}_vnull"),
          sum(when(expr(s"schema_of_variant(variant_get(v, '$p'))")
            .isin(num: _*), 1L).otherwise(0L)).as(s"${t}_num"),
          sum(when(expr(s"schema_of_variant(variant_get(v, '$p'))")
            === "STRING", 1L).otherwise(0L)).as(s"${t}_str"),
          sum(when(expr(s"try_variant_get(v, '$p', 'bigint') IS NOT NULL"),
            1L).otherwise(0L)).as(s"${t}_coerced"),
          coalesce(sum(expr(s"try_variant_get(v, '$p', 'bigint')")),
            lit(0L)).as(s"${t}_sum"))
      }
      val onePass = ev.select(parse_json(payload).as("v"))
        .agg(aggs.head, aggs.tail: _*)
      val stackExpr = paths.map { case (p, t) =>
        s"'$p', ${t}_present, ${t}_vnull, ${t}_num, ${t}_str, " +
          s"${t}_coerced, ${t}_sum"
      }.mkString(s"stack(${paths.size}, ", ", ",
        ") as (path, n_present, n_vnull, n_num, n_str, n_coerced, " +
          "shred_sum)")
      onePass.selectExpr(stackExpr).orderBy(col("path"))
    },

    // ---------------------------------------------------------------
    // q29 — unpivot/melt (the inverse of q23's pivot): wide per-flag
    // aggregate metrics melted to (key, metric, value) long form — the
    // normalization step a metrics/feature pipeline runs before a
    // generic downstream consumer. Spark's dedicated `unpivot` operator
    // (plans an Expand — one pass, no join, no shuffle beyond the
    // aggregation's own); the oracle is the equivalent UNION ALL.
    // Values go through exact DECIMAL sums then one cast to DOUBLE
    // (the repo-wide determinism rule), so the melted doubles are
    // bit-identical in both engines.
    Q(
      "q29_unpivot",
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM m
        |UNION ALL
        |SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM m
        |UNION ALL
        |SELECT l_returnflag, 'sum_disc' AS metric, sum_disc AS value FROM m
        |ORDER BY l_returnflag, metric""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast("double").as("sum_price"),
          sum(col("l_discount").cast(DecimalType(18, 2)))
            .cast("double").as("sum_disc"))
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
          "metric", "value")
        .orderBy(col("l_returnflag"), col("metric"))
    },

    // ---------------------------------------------------------------
    // q30 — correlated LATERAL join with LIMIT (top-2 customers by
    // balance per nation). Catalyst decorrelates the per-row subquery
    // into a window rank-filter over ONE equi-join — no per-nation
    // re-scan of customer — and the GroupTopK rewrite rule
    // (plans/RewriteRankFilterToGroupTopK) then caps the shuffle at
    // k rows per group per input partition when the extensions are
    // active. The oracle states the identical semantics as an explicit
    // window, so it also documents what the decorrelation must produce.
    // No arithmetic on c_acctbal — both engines compare the same
    // parquet doubles, ties broken by c_custkey.
    Q(
      "q30_lateral_topk",
      """SELECT n_name, c_custkey, c_acctbal FROM (
        |  SELECT n.n_name, c.c_custkey, c.c_acctbal,
        |    row_number() OVER (PARTITION BY n.n_nationkey
        |      ORDER BY c.c_acctbal DESC, c.c_custkey) AS rn
        |  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey) t
        |WHERE rn <= 2
        |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "nation").createOrReplaceTempView("nation_q30")
      Tables(s, dir, "customer").createOrReplaceTempView("customer_q30")
      s.sql("""
        SELECT n.n_name, c.c_custkey, c.c_acctbal
        FROM nation_q30 n
        JOIN LATERAL (
          SELECT c_custkey, c_acctbal FROM customer_q30
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 2
        ) c
        ORDER BY n.n_name, c.c_acctbal DESC, c.c_custkey""")
    },

    // ---------------------------------------------------------------
    // q31 — null-safe equality join (`<=>` ≡ IS NOT DISTINCT FROM):
    // the join form that keeps null keys as a matchable group instead
    // of silently dropping them — what a data-quality rollup needs when
    // the join key is itself derived and nullable. The fixture nulls
    // out one event_type ('error' → NULL) on both sides; the null
    // groups must pair up. Still a hash join (null-safe equi-keys
    // hash like any other), so the 100 TB shape is unchanged — and
    // both sides aggregate BEFORE the join, so the join input is
    // group-sized, not row-sized.
    Q(
      "q31_nullsafe_join",
      """WITH l AS (
        |  SELECT nullif(event_type, 'error') AS et, count(*) AS n_all
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT nullif(event_type, 'error') AS et, count(*) AS n_even
        |  FROM events WHERE event_id % 2 = 0 GROUP BY 1)
        |SELECT l.et AS et, l.n_all, r.n_even
        |FROM l JOIN r ON l.et IS NOT DISTINCT FROM r.et
        |ORDER BY 1 NULLS FIRST""".stripMargin
    ) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val l = ev
        .groupBy(nullif(col("event_type"), lit("error")).as("et"))
        .agg(count(lit(1)).as("n_all"))
      val r = ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .groupBy(nullif(col("event_type"), lit("error")).as("et"))
        .agg(count(lit(1)).as("n_even"))
      l.join(r, l("et") <=> r("et"))
        .select(l("et"), col("n_all"), col("n_even"))
        .orderBy(col("et").asc_nulls_first)
    },

    // ---------------------------------------------------------------
    // q28 — RANGE-frame interval window (the time-valued frame variant;
    // q08 covers ROWS frames): per user, how many of their events fall
    // in the hour up to and including each event. RANGE frames include
    // ORDER-BY peers in both engines, so millisecond ties are
    // deterministic; ms epoch is floor-truncated from the µs timestamps
    // identically on both sides. One shuffle on user_id.
    Q(
      "q28_range_frame_window",
      """SELECT event_id,
        |  count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |    RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS n_hour
        |FROM events
        |ORDER BY event_id""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ord"))
        .rangeBetween(-3600000L, Window.currentRow)
      Tables(s, dir, "events")
        .withColumn("ord", unix_millis(col("ts")))
        .select(col("event_id"), count(lit(1)).over(w).as("n_hour"))
        .orderBy(col("event_id"))
    },

    // ---------------------------------------------------------------
    // q32 — recursive CTE (Spark 4.x WITH RECURSIVE / UnionLoop): every
    // part walks a synthetic containment hierarchy to its root (parent
    // of k is k div 2 — a binary tree over the part keys, the BOM-
    // explosion shape without needing a parts_parts table). The
    // recursion carries (node, cursor, depth, path); a node's answer is
    // its cursor-at-root row, so the result is one row per part with
    // its depth and full root path — the transitive closure no single
    // window/join can express. Iterations = tree height (log₂ n: 15 at
    // sf0.1's 20k parts), total intermediate rows n·log n. Scale note:
    // Spark caps recursion at spark.sql.cteRecursionLevelLimit (100)
    // and 1M rows per anchor by default — a 100 TB BOM walk raises the
    // row limit and relies on depth staying logarithmic; each iteration
    // is one self-join-free projection over the previous level. The
    // caps are surfaced as spark.graft.recursion.{maxDepth,maxRows}
    // (operators.Recursion — applied here, so a deeper-than-100
    // production hierarchy is one conf away; RecursionLimitSpec walks
    // a 150-level chain under them).
    Q(
      "q32_recursive_walk",
      """WITH RECURSIVE walk(node, cur, depth, path) AS (
        |  SELECT p_partkey AS node, p_partkey AS cur, 0 AS depth,
        |    CAST(p_partkey AS VARCHAR) AS path
        |  FROM part
        |  UNION ALL
        |  SELECT node, cur // 2, depth + 1,
        |    path || '>' || CAST(cur // 2 AS VARCHAR)
        |  FROM walk WHERE cur > 1)
        |SELECT node, CAST(depth AS INT) AS root_depth, path
        |FROM walk WHERE cur = 1
        |ORDER BY node""".stripMargin
    ) { (s, dir) =>
      graft.operators.Recursion.applyLimits(s)
      Tables(s, dir, "part").createOrReplaceTempView("part_q32")
      s.sql("""
        WITH RECURSIVE walk(node, cur, depth, path) AS (
          SELECT p_partkey AS node, p_partkey AS cur, 0 AS depth,
            CAST(p_partkey AS STRING) AS path
          FROM part_q32
          UNION ALL
          SELECT node, cur DIV 2, depth + 1,
            path || '>' || CAST(cur DIV 2 AS STRING)
          FROM walk WHERE cur > 1)
        SELECT node, CAST(depth AS INT) AS root_depth, path
        FROM walk WHERE cur = 1
        ORDER BY node""")
    },

    // ---------------------------------------------------------------
    // q33 — batch sessionization (gaps-and-islands): the classic
    // two-window construction w03's streaming session_window is the
    // incremental version of — a new session starts when the gap from
    // the user's previous event exceeds 30 minutes (lag), session ids
    // are the running count of session starts (cumulative sum), then
    // one aggregate per (user, session). Frames are explicit ROWS
    // (Spark and DuckDB default RANGE the same way, but ties are
    // broken by event_id so the point is moot — explicit anyway), gap
    // arithmetic is integer epoch-ms. Shape at 100 TB: ONE shuffle on
    // user_id serves both windows and the final aggregate (identical
    // partitioning; Spark reuses the exchange), so sessionizing a
    // full event log costs a single hash exchange + per-user sort.
    Q(
      "q33_sessionize",
      """WITH flagged AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |    CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER
        |        (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
        |      > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, event_id, ms,
        |    sum(new_s) OVER (PARTITION BY user_id
        |      ORDER BY ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  min(ms) AS start_ms, max(ms) AS end_ms,
        |  max(ms) - min(ms) AS duration_ms
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val order = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      val cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ms"))
        .withColumn("new_s",
          when(col("ms") - lag(col("ms"), 1).over(order) > 1800000L, 1)
            .otherwise(lit(0)))
        .withColumn("session_id", sum(col("new_s")).over(cum))
        .groupBy(col("user_id"), col("session_id").cast("long").as("session_id"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          min(col("ms")).as("start_ms"), max(col("ms")).as("end_ms"),
          (max(col("ms")) - min(col("ms"))).as("duration_ms"))
        .orderBy(col("user_id"), col("session_id"))
    },

    // ---------------------------------------------------------------
    // q34 — funnel analysis (ordered-step conversion): how many users
    // progressed view → click → purchase, where each step's FIRST
    // occurrence must be strictly after the previous step's first
    // occurrence. One conditional-aggregate pass per user (three
    // min-CASE columns — no self-joins, no per-step scans), then the
    // step counts explode from a single scalar row. Comparisons are
    // integer epoch-ms; both engines compute identical firsts, so the
    // strict-> tie policy is deterministic cross-engine. Shape at
    // 100 TB: ONE shuffle on user_id for the conditional aggregate;
    // the funnel itself reduces to a 1-row scalar (broadcast-scale)
    // regardless of corpus size.
    Q(
      "q34_funnel",
      """WITH firsts AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS v,
        |    min(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) AS c,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS p
        |  FROM events GROUP BY user_id),
        |agg AS (
        |  SELECT
        |    CAST(count(CASE WHEN v IS NOT NULL THEN 1 END) AS BIGINT) AS n1,
        |    CAST(count(CASE WHEN v IS NOT NULL AND c > v THEN 1 END) AS BIGINT) AS n2,
        |    CAST(count(CASE WHEN v IS NOT NULL AND c > v AND p > c THEN 1 END)
        |      AS BIGINT) AS n3
        |  FROM firsts)
        |SELECT 1 AS step, 'view' AS step_name, n1 AS n_users FROM agg
        |UNION ALL SELECT 2, 'click', n2 FROM agg
        |UNION ALL SELECT 3, 'purchase', n3 FROM agg
        |ORDER BY step""".stripMargin
    ) { (s, dir) =>
      val ms = unix_millis(col("ts"))
      val firsts = Tables(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", ms)).as("v"),
          min(when(col("event_type") === "click", ms)).as("c"),
          min(when(col("event_type") === "purchase", ms)).as("p"))
      firsts.agg(
          count(when(col("v").isNotNull, 1)).as("n1"),
          count(when(col("v").isNotNull && col("c") > col("v"), 1)).as("n2"),
          count(when(col("v").isNotNull && col("c") > col("v") &&
            col("p") > col("c"), 1)).as("n3"))
        .select(explode(array(
          struct(lit(1).as("step"), lit("view").as("step_name"),
            col("n1").as("n_users")),
          struct(lit(2).as("step"), lit("click").as("step_name"),
            col("n2").as("n_users")),
          struct(lit(3).as("step"), lit("purchase").as("step_name"),
            col("n3").as("n_users")))).as("s"))
        .select(col("s.step"), col("s.step_name"), col("s.n_users"))
        .orderBy(col("step"))
    },

    // ---------------------------------------------------------------
    // q35 — cohort retention: users are cohorted by the week of their
    // first event, then each (cohort, week-offset) cell counts users
    // still active that week; retention is the cell over the cohort's
    // own week-0 size. Weeks are integer epoch-ms DIV 604800000 — a
    // pure-arithmetic week index identical in both engines (no
    // date_trunc / timezone / week-start dialect in the hash path).
    // retention is a bigint/bigint IEEE division, emitted unrounded
    // (per the determinism contract's round-on-quotient audit).
    // Shape at 100 TB: ONE shuffle on user_id serves both the min-week
    // aggregate and the join back (identical partitioning — Spark
    // reuses the exchange), the distinct+count collapse onto a
    // (cohort, offset) key space of weeks², and the cohort-size window
    // runs over that tiny aggregated table, never the event log.
    Q(
      "q35_cohort_retention",
      """WITH ev AS (
        |  SELECT user_id, epoch_ms(ts) // 604800000 AS wk FROM events),
        |cohort AS (SELECT user_id, min(wk) AS cwk FROM ev GROUP BY user_id),
        |act AS (
        |  SELECT DISTINCT e.user_id, c.cwk, e.wk - c.cwk AS week_offset
        |  FROM ev e JOIN cohort c ON e.user_id = c.user_id),
        |cells AS (
        |  SELECT cwk, week_offset, CAST(count(*) AS BIGINT) AS n_active
        |  FROM act GROUP BY cwk, week_offset)
        |SELECT cwk AS cohort_week, week_offset, n_active,
        |  max(CASE WHEN week_offset = 0 THEN n_active END)
        |    OVER (PARTITION BY cwk) AS cohort_n,
        |  CAST(n_active AS DOUBLE) /
        |    max(CASE WHEN week_offset = 0 THEN n_active END)
        |    OVER (PARTITION BY cwk) AS retention
        |FROM cells ORDER BY cohort_week, week_offset""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), expr("unix_millis(ts) DIV 604800000").as("wk"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cwk"))
      val act = ev.join(cohort, Seq("user_id"))
        .select(col("user_id"), col("cwk"),
          (col("wk") - col("cwk")).as("week_offset"))
        .distinct()
      val cells = act.groupBy(col("cwk"), col("week_offset"))
        .agg(count(lit(1)).cast("long").as("n_active"))
      val byCohort = Window.partitionBy(col("cwk"))
      val cohortN =
        max(when(col("week_offset") === 0, col("n_active"))).over(byCohort)
      cells.select(col("cwk").as("cohort_week"), col("week_offset"),
          col("n_active"), cohortN.as("cohort_n"),
          (col("n_active").cast("double") / cohortN).as("retention"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },

    // ---------------------------------------------------------------
    // q36 — fixed-width histogram (binning + ogive): l_extendedprice
    // into 20 × 5000-wide buckets (top bucket open), per-bucket count
    // and exact-DECIMAL price mass, plus the cumulative count. Bucket
    // assignment is floor(double/5000.0) — identical IEEE divide+floor
    // in both engines — clamped with least/greatest so outliers land in
    // the edge buckets instead of growing the key space. Shape at
    // 100 TB: one map-side-combinable aggregate onto a 20-key space;
    // the unpartitioned cumulative window runs over the 20-row
    // aggregate, NOT the corpus (the single-partition window is
    // post-aggregation, so it is broadcast-scale by construction).
    Q(
      "q36_price_histogram",
      """WITH b AS (
        |  SELECT least(19, greatest(0,
        |      CAST(floor(l_extendedprice / 5000.0) AS BIGINT))) AS bucket,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS pd
        |  FROM lineitem),
        |h AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(pd) AS DOUBLE) AS sum_price
        |  FROM b GROUP BY bucket)
        |SELECT bucket, bucket * 5000.0 AS lo, (bucket + 1) * 5000.0 AS hi,
        |  n_items, sum_price,
        |  CAST(sum(n_items) OVER (ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_items
        |FROM h ORDER BY bucket""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val bucket = least(lit(19L), greatest(lit(0L),
        floor(col("l_extendedprice") / 5000.0).cast("long")))
      val h = Tables(s, dir, "lineitem")
        .select(bucket.as("bucket"),
          col("l_extendedprice").cast(DecimalType(18, 2)).as("pd"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("long").as("n_items"),
          sum(col("pd")).cast("double").as("sum_price"))
      val cum = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.select(col("bucket"), (col("bucket") * 5000.0).as("lo"),
          ((col("bucket") + 1) * 5000.0).as("hi"),
          col("n_items"), col("sum_price"),
          sum(col("n_items")).over(cum).cast("long").as("cum_items"))
        .orderBy(col("bucket"))
    },

    // ---------------------------------------------------------------
    // q37 — co-purchase pair mining (market-basket frequent pairs):
    // which part pairs appear in the same order most often. The oracle
    // states it as the naive items×items self-join; the Spark plan
    // refuses that shape — baskets are collected per order (ONE
    // shuffle on l_orderkey; collect_set dedups in-aggregate) and the
    // pair list is generated MAP-SIDE from each sorted basket
    // (flatten/transform index arithmetic), so the only other exchange
    // is the partial-agg'd (p1, p2) count. Basket width bounds the
    // blowup: lineitem carries ≤7 lines/order by construction (TPC-H
    // shape); at 100 TB a pathological basket would be capped at the
    // collect (slice after sort_array) the same way d09 caps
    // heavy-hitters. Top-100 is TakeOrderedAndProject on a total
    // order (count DESC, then both keys).
    Q(
      "q37_copurchase",
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey
        |  FROM lineitem),
        |pairs AS (
        |  SELECT a.pkey AS p1, b.pkey AS p2
        |  FROM items a JOIN items b ON a.okey = b.okey AND a.pkey < b.pkey),
        |counts AS (
        |  SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM pairs GROUP BY p1, p2)
        |SELECT p1, p2, n_orders FROM counts
        |ORDER BY n_orders DESC, p1, p2 LIMIT 100""".stripMargin
    ) { (s, dir) =>
      val baskets = Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("okey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      val pairs = baskets.select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)),
          |    y -> struct(x AS p1, y AS p2))))""".stripMargin)).as("pr"))
      pairs.groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
        .agg(count(lit(1)).cast("long").as("n_orders"))
        .orderBy(col("n_orders").desc, col("p1"), col("p2"))
        .limit(100)
    },

    // ---------------------------------------------------------------
    // q38 — spend quartiles via ntile: customers ranked into 4 equal
    // buckets by lifetime order value (the segmentation shape behind
    // "top-quartile customers"). The fact table reduces FIRST (exact
    // DECIMAL sum per customer — one partial-agg'd shuffle on
    // o_custkey); the quartile cut then runs over the customer
    // dimension via EquiDepth.ntileExact (total order: spend DESC,
    // then key). The customer dimension is only "small" relative to
    // the fact log — it still scales with the corpus (150M customers
    // at 100 TB), so the old unpartitioned ntile window was the q43
    // single-task shape one size down; the exact range-partitioned
    // construction costs the same two exchanges at any cardinality.
    Q(
      "q38_spend_quartiles",
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_spend
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, total_spend,
        |  CAST(ntile(4) OVER (ORDER BY total_spend DESC, o_custkey)
        |    AS BIGINT) AS quartile
        |FROM spend ORDER BY o_custkey""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val spend = Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast("double").as("total_spend"))
      graft.operators.EquiDepth.ntileExact(spend, 4,
          Seq(col("total_spend").desc, col("o_custkey")), "quartile")
        .select(col("o_custkey"), col("total_spend"), col("quartile"))
        .orderBy(col("o_custkey"))
    },

    // ---------------------------------------------------------------
    // q39 — PageRank over the co-purchase graph (3 power iterations,
    // damping 0.85), in FIXED-POINT integer arithmetic: scores are
    // bigint units of 1e-9, a contribution is score DIV degree, and
    // the damped update is 0.15e9 + (85 · Σcontrib) DIV 100 — every
    // operation is integer division/multiplication both engines define
    // identically, so three iterations stay bit-exact with NO float
    // summation anywhere (the p06 lesson: iterative graph math must
    // not accumulate engine-ordered doubles). The graph: q37's
    // item-pair edges, undirected (both directions), deduplicated.
    // Every node has ≥1 edge by construction, so no dangling-mass
    // term. Shape at 100 TB: the edge list builds once map-side from
    // baskets and is STAGED (reused by 3 iterations + the degree
    // table); each iteration is one equi-join on src + one dst-keyed
    // partial-agg'd reduce — the standard Pregel-as-joins layout with
    // a fixed unrolled depth; top-50 via TakeOrderedAndProject.
    Q(
      "q39_part_pagerank",
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey
        |  FROM lineitem),
        |prs AS (
        |  SELECT DISTINCT a.pkey AS p1, b.pkey AS p2
        |  FROM items a JOIN items b ON a.okey = b.okey AND a.pkey < b.pkey),
        |edges AS (
        |  SELECT p1 AS src, p2 AS dst FROM prs
        |  UNION ALL SELECT p2, p1 FROM prs),
        |deg AS (SELECT src AS p, CAST(count(*) AS BIGINT) AS deg
        |        FROM edges GROUP BY src),
        |s0 AS (SELECT p, deg, CAST(1000000000 AS BIGINT) AS score FROM deg),
        |i1 AS (SELECT e.dst AS p,
        |    150000000 + (85 * CAST(sum(s.score // s.deg) AS BIGINT)) // 100
        |      AS score
        |  FROM edges e JOIN s0 s ON s.p = e.src GROUP BY e.dst),
        |s1 AS (SELECT d.p, d.deg, i1.score FROM deg d JOIN i1 ON i1.p = d.p),
        |i2 AS (SELECT e.dst AS p,
        |    150000000 + (85 * CAST(sum(s.score // s.deg) AS BIGINT)) // 100
        |      AS score
        |  FROM edges e JOIN s1 s ON s.p = e.src GROUP BY e.dst),
        |s2 AS (SELECT d.p, d.deg, i2.score FROM deg d JOIN i2 ON i2.p = d.p),
        |i3 AS (SELECT e.dst AS p,
        |    150000000 + (85 * CAST(sum(s.score // s.deg) AS BIGINT)) // 100
        |      AS score
        |  FROM edges e JOIN s2 s ON s.p = e.src GROUP BY e.dst)
        |SELECT p, score AS score_fp FROM i3
        |ORDER BY score_fp DESC, p LIMIT 50""".stripMargin
    ) { (s, dir) =>
      import graft.operators.Stage
      val items = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"))
        .distinct()
      val prs = items.as("a").join(items.as("b"),
          col("a.okey") === col("b.okey") && col("a.pkey") < col("b.pkey"))
        .select(col("a.pkey").as("p1"), col("b.pkey").as("p2"))
        .distinct()
      // staged grouped-by-src (round 12): a plain localCheckpoint does
      // NOT carry outputPartitioning (it captures the unfinalized
      // adaptive plan — see Stage.stageExact), so the sweeps still
      // exchange; the repartition makes each src's edges contiguous in
      // the checkpointed blocks, which measured a small but repeatable
      // win on the sweep shuffles (2.9-3.6 s vs 3.6-3.8 s same-window).
      // stageExact (honored partitioning + exact stats) was tried and
      // REVERTED here: the exact stats flipped the sweep joins away
      // from AQE's coalesced plan and cost +30% (4.4-4.7 s).
      val edges = prs.select(col("p1").as("src"), col("p2").as("dst"))
        .unionByName(prs.select(col("p2").as("src"), col("p1").as("dst")))
        .repartition(col("src"))
        .transform(Stage.stage)
      val deg = edges.groupBy(col("src").as("p"))
        .agg(count(lit(1)).cast("long").as("deg"))
      def sweep(scores: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        val contrib = edges.join(scores, col("src") === col("p"))
          .select(col("dst"), expr("score DIV deg").as("c"))
        val next = contrib.groupBy(col("dst").as("p"))
          .agg(expr("CAST(150000000 + (85 * sum(c)) DIV 100 AS BIGINT)")
            .as("score"))
        deg.join(next, Seq("p"))
      }
      val s0 = deg.withColumn("score", lit(1000000000L))
      val s3 = sweep(sweep(sweep(s0)))
      s3.select(col("p"), col("score").as("score_fp"))
        .orderBy(col("score_fp").desc, col("p"))
        .limit(50)
    },

    // ---------------------------------------------------------------
    // q40 — time-series gap-fill + forward-fill: each user's hourly
    // value series densified to EVERY hour between their first and
    // last event (missing buckets materialize with n_events = 0), and
    // the value carried forward from the last observed bucket
    // (last_value IGNORE NULLS) — the resample/ffill primitive every
    // metrics warehouse needs before joins against regular series.
    // Buckets are integer epoch-hours; per-bucket values are exact
    // DECIMAL sums cast once; the first bucket of every series is
    // observed by construction, so no leading-null policy is needed.
    // Shape at 100 TB: one (user, hour) partial-agg'd shuffle; the
    // bucket explode is map-side from the tiny per-user bounds; the
    // fill window is partitioned per series — nothing global anywhere.
    Q(
      "q40_gapfill",
      """WITH hv AS (
        |  SELECT user_id, epoch_ms(ts) // 3600000 AS h,
        |    CAST(value AS DECIMAL(18,4)) AS vd
        |  FROM events),
        |agg AS (
        |  SELECT user_id, h, CAST(sum(vd) AS DOUBLE) AS v,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM hv GROUP BY user_id, h),
        |bounds AS (SELECT user_id, min(h) AS mn, max(h) AS mx
        |           FROM agg GROUP BY user_id),
        |buckets AS (SELECT user_id, unnest(generate_series(mn, mx)) AS h
        |            FROM bounds),
        |joined AS (
        |  SELECT b.user_id, b.h, a.v, COALESCE(a.n, 0) AS n
        |  FROM buckets b LEFT JOIN agg a
        |    ON a.user_id = b.user_id AND a.h = b.h)
        |SELECT user_id, make_timestamp(h * 3600000000) AS bucket_start,
        |  CAST(n AS BIGINT) AS n_events,
        |  v IS NULL AS filled,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
        |FROM joined ORDER BY user_id, bucket_start""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val agg = Tables(s, dir, "events")
        .select(col("user_id"), expr("unix_millis(ts) DIV 3600000").as("h"),
          col("value").cast(DecimalType(18, 4)).as("vd"))
        .groupBy(col("user_id"), col("h"))
        .agg(sum(col("vd")).cast("double").as("v"),
          count(lit(1)).cast("long").as("n"))
      val buckets = agg.groupBy(col("user_id"))
        .agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
        .select(col("user_id"),
          explode(sequence(col("mn"), col("mx"))).as("h"))
      val ffill = Window.partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      buckets.join(agg, Seq("user_id", "h"), "left_outer")
        .select(col("user_id"),
          timestamp_micros(col("h") * 3600000000L).as("bucket_start"),
          coalesce(col("n"), lit(0L)).cast("long").as("n_events"),
          col("v").isNull.as("filled"),
          last(col("v"), ignoreNulls = true).over(ffill).as("value_ffill"))
        .orderBy(col("user_id"), col("bucket_start"))
    },

    // ---------------------------------------------------------------
    // q41 — rolling anomaly detection: each user's hourly value series
    // scored against its own trailing 24-bucket window; buckets whose
    // z-score exceeds 2.5 are flagged. The rolling moments are EXACT
    // DECIMAL window sums (value and value² both sum as decimals, so
    // the frame's accumulation order — Spark's running accumulator vs
    // DuckDB's segment tree — cannot drift a float sum), cast to
    // double once for the mean/variance arithmetic; sqrt is
    // IEEE-correctly-rounded in both engines, so z is bit-identical.
    // Only full 24-bucket frames score (row 24 onward per series) —
    // no partial-frame edge policy to diverge on. Shape at 100 TB:
    // one (user, hour) partial-agg'd shuffle, then per-series ROWS
    // windows; flagging is a stateless filter on the window output.
    Q(
      "q41_rolling_anomaly",
      """WITH hv AS (
        |  SELECT user_id, epoch_ms(ts) // 3600000 AS h,
        |    CAST(value AS DECIMAL(18,4)) AS vd
        |  FROM events),
        |agg AS (
        |  SELECT user_id, h, CAST(sum(vd) AS DECIMAL(18,4)) AS sv
        |  FROM hv GROUP BY user_id, h),
        |sq AS (
        |  SELECT user_id, h, sv,
        |    CAST(sv * sv AS DECIMAL(38,8)) AS sv2
        |  FROM agg),
        |rolled AS (
        |  SELECT user_id, h, sv,
        |    CAST(sum(sv) OVER w AS DOUBLE) AS rsum,
        |    CAST(sum(sv2) OVER w AS DOUBLE) AS rsum2,
        |    row_number() OVER (PARTITION BY user_id ORDER BY h) AS rn
        |  FROM sq
        |  WINDOW w AS (PARTITION BY user_id ORDER BY h
        |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
        |scored AS (
        |  SELECT user_id, h, CAST(sv AS DOUBLE) AS v,
        |    rsum / 24 AS mean24,
        |    sqrt(greatest(0.0, rsum2 / 24 - (rsum / 24) * (rsum / 24)))
        |      AS std24
        |  FROM rolled WHERE rn >= 24)
        |SELECT user_id, make_timestamp(h * 3600000000) AS bucket_start,
        |  v, round(mean24, 6) AS mean24,
        |  round((v - mean24) / std24, 6) AS z
        |FROM scored
        |WHERE std24 > 0 AND abs((v - mean24) / std24) > 2.5
        |ORDER BY user_id, bucket_start""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val agg = Tables(s, dir, "events")
        .select(col("user_id"), expr("unix_millis(ts) DIV 3600000").as("h"),
          col("value").cast(DecimalType(18, 4)).as("vd"))
        .groupBy(col("user_id"), col("h"))
        .agg(sum(col("vd")).cast(DecimalType(18, 4)).as("sv"))
      val sq = agg.withColumn("sv2",
        (col("sv") * col("sv")).cast(DecimalType(38, 8)))
      val frame = Window.partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(-23, Window.currentRow)
      val series = Window.partitionBy(col("user_id")).orderBy(col("h"))
      val rolled = sq.select(col("user_id"), col("h"), col("sv"),
        sum(col("sv")).over(frame).cast("double").as("rsum"),
        sum(col("sv2")).over(frame).cast("double").as("rsum2"),
        row_number().over(series).as("rn"))
      val mean = col("rsum") / 24
      val std = sqrt(greatest(lit(0.0),
        col("rsum2") / 24 - (col("rsum") / 24) * (col("rsum") / 24)))
      val scored = rolled.filter(col("rn") >= 24)
        .select(col("user_id"), col("h"), col("sv").cast("double").as("v"),
          mean.as("mean24"), std.as("std24"))
      scored
        .filter(col("std24") > 0 &&
          abs((col("v") - col("mean24")) / col("std24")) > 2.5)
        .select(col("user_id"),
          timestamp_micros(col("h") * 3600000000L).as("bucket_start"),
          col("v"), round(col("mean24"), 6).as("mean24"),
          round((col("v") - col("mean24")) / col("std24"), 6).as("z"))
        .orderBy(col("user_id"), col("bucket_start"))
    },

    // ---------------------------------------------------------------
    // q42 — revenue trend per nation (OLS slope over weekly series):
    // is each market growing or shrinking, as the least-squares slope
    // of weekly order value against the week index. The float hazards
    // are Σy and Σxy (cross-row double sums), so both fold in WEEK
    // ORDER over the per-(nation, week) aggregate (p16's ordered-fold
    // discipline); Σx, Σx² and n are exact integers; the slope's
    // denominator is therefore exact and the division is one IEEE op,
    // emitted round(,6). Weekly revenue itself is an exact DECIMAL sum
    // cast once. Shape at 100 TB: the order log reduces to a
    // (nation, week) key space in one partial-agg'd shuffle (the
    // customer→nation dims broadcast); the regression runs over that
    // tiny table — one ordered fold per nation.
    Q(
      "q42_weekly_trend",
      """WITH wk AS (
        |  SELECT n.n_name AS nation,
        |    epoch_ms(o.o_orderdate) // 604800000 AS w,
        |    CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS rev
        |  FROM orders o
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  GROUP BY n.n_name, epoch_ms(o.o_orderdate) // 604800000),
        |fit AS (
        |  SELECT nation,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(w) AS BIGINT) AS sx,
        |    CAST(sum(w * w) AS BIGINT) AS sxx,
        |    list_reduce(list(rev ORDER BY w), (a, b) -> a + b) AS sy,
        |    list_reduce(list(w * rev ORDER BY w), (a, b) -> a + b) AS sxy
        |  FROM wk GROUP BY nation)
        |SELECT nation, n AS n_weeks,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope
        |FROM fit WHERE n >= 2
        |ORDER BY nation""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      // customer scales with SF — no forced broadcast (round-8 lint);
      // nation is contract-bounded (25 rows) and keeps its hint
      val wk = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"),
          col("c_custkey") === col("o_custkey"))
        .join(broadcast(Tables(s, dir, "nation")),
          col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name").as("nation"),
          // o_orderdate lands as TIMESTAMP_NTZ; session TZ is UTC, so
          // the cast matches DuckDB's epoch_ms reading exactly
          expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 604800000")
            .as("w"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast("double").as("rev"))
      val fit = wk.groupBy(col("nation"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("w")).cast("long").as("sx"),
          sum(col("w") * col("w")).cast("long").as("sxx"),
          aggregate(array_sort(collect_list(struct(col("w"),
            col("rev").as("t")))), lit(0.0),
            (a, x) => a + x.getField("t")).as("sy"),
          aggregate(array_sort(collect_list(struct(col("w"),
            (col("w") * col("rev")).as("t")))), lit(0.0),
            (a, x) => a + x.getField("t")).as("sxy"))
      fit.filter(col("n") >= 2)
        .select(col("nation"), col("n").as("n_weeks"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6)
            .as("slope"))
        .orderBy(col("nation"))
    },

    // ---------------------------------------------------------------
    // q43 — EQUI-DEPTH histogram (q36's equi-width complement, and the
    // optimizer-statistics primitive): l_extendedprice into 16 buckets
    // of equal row count, exactly ntile(16) over the total order
    // (price, then the key pair for exact tie placement) — but WITHOUT
    // the single-partition window the naive form plans (an
    // unpartitioned ntile moves the ENTIRE fact table through one
    // task; at 100× that one task IS the query — round-6 `weak`).
    // Scale-safe exact construction instead: EquiDepth.ntileExact —
    // range-partition on the total-order key (the parallelizable
    // global ORDER the old comment conflated with the unparallelizable
    // global WINDOW), prefix offsets from per-partition counts as a
    // windowless array fold, global rank = offset + pid-partitioned
    // row_number, bucket by ntile's own size arithmetic. Identical
    // output to ntile(16) by construction; oracle unchanged; PlanSpec
    // pins zero unpartitioned Window in this plan. Per-bucket price
    // mass is an exact DECIMAL sum; bounds are raw doubles (identical
    // order ⇒ identical min/max in both engines).
    Q(
      "q43_equidepth_histogram",
      """WITH b AS (
        |  SELECT l_extendedprice AS price,
        |    CAST(ntile(16) OVER (ORDER BY l_extendedprice,
        |      l_orderkey, l_linenumber) AS BIGINT) AS bucket
        |  FROM lineitem)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_items,
        |  min(price) AS lo, max(price) AS hi,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      graft.operators.EquiDepth.ntileExact(
          Tables(s, dir, "lineitem")
            .select(col("l_extendedprice").as("price"),
              col("l_orderkey"), col("l_linenumber")),
          16,
          Seq(col("price"), col("l_orderkey"), col("l_linenumber")),
          "bucket")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("long").as("n_items"),
          min(col("price")).as("lo"), max(col("price")).as("hi"),
          sum(col("price").cast(DecimalType(18, 2))).cast("double")
            .as("sum_price"))
        .orderBy(col("bucket"))
    },

    // ---------------------------------------------------------------
    // q57 — EXACT quantiles without a single-task sort: the
    // order-statistics complement to q43's equi-depth buckets and the
    // exact counterpart of q27's approx-percentile sketch. Seven cut
    // points (p1 … p99.9) of l_extendedprice by discrete (type-1)
    // quantile — value at global rank ⌈q·N⌉ in the total order — via
    // EquiDepth.withGlobalRank: one range exchange + one
    // pid-partitioned rank window, then a codegen'd 7-comparison
    // filter keeps ≤7 rows and a tiny explode labels them. At 100 TB
    // this is how you get an EXACT p99.9 (approx sketches carry rank
    // error that is worst exactly in the tail a latency/price SLO
    // cares about). q·N multiplies as IEEE doubles on BOTH sides
    // (the oracle casts; DuckDB would otherwise compute the product
    // in decimal and ceil differently).
    Q(
      "q57_exact_quantiles",
      """WITH r AS (
        |  SELECT l_extendedprice AS price,
        |    row_number() OVER (ORDER BY l_extendedprice,
        |      l_orderkey, l_linenumber) AS r,
        |    count(*) OVER () AS n
        |  FROM lineitem),
        |qs AS (SELECT unnest([0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 0.999])
        |         AS q)
        |SELECT CAST(q AS DOUBLE) AS q, price AS value
        |FROM qs JOIN r
        |  ON r.r = GREATEST(1,
        |    CAST(ceil(CAST(q AS DOUBLE) * n) AS BIGINT))
        |ORDER BY q""".stripMargin
    ) { (s, dir) =>
      val quantiles = Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 0.999)
      def target(q: Double) =
        greatest(lit(1L), ceil(lit(q) * col("n")).cast("long"))
      val ranked = graft.operators.EquiDepth.withGlobalRank(
        Tables(s, dir, "lineitem")
          .select(col("l_extendedprice").as("price"),
            col("l_orderkey"), col("l_linenumber")),
        Seq(col("price"), col("l_orderkey"), col("l_linenumber")),
        "r", "n")
      ranked
        .filter(quantiles.map(q => col("r") === target(q)).reduce(_ || _))
        .withColumn("q", explode(typedLit(quantiles)))
        .filter(col("r") ===
          greatest(lit(1L), ceil(col("q") * col("n")).cast("long")))
        .select(col("q"), col("price").as("value"))
        .orderBy(col("q"))
    },

    // ---------------------------------------------------------------
    // q44 — event transition matrix (first-order Markov estimate):
    // per user, each event's SUCCESSOR by time (lead over the
    // user-ordered stream, event_id tie-break), aggregated into
    // (current, next) counts and row-normalized transition
    // probabilities — the behavioral-analytics primitive behind
    // "what happens after a click". One shuffle on user_id for the
    // lead window, one partial-agg'd reduce onto the |types|² key
    // space; the probability window runs over that 25-row table.
    // p is a bigint/bigint IEEE division, unrounded.
    Q(
      "q44_transition_matrix",
      """WITH seq AS (
        |  SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts), event_id) AS nxt
        |  FROM events),
        |t AS (
        |  SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt)
        |SELECT cur, nxt, n,
        |  CAST(n AS DOUBLE)
        |    / CAST(sum(n) OVER (PARTITION BY cur) AS BIGINT) AS p
        |FROM t ORDER BY cur, nxt""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val order = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      val t = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          col("event_type").as("cur"), unix_millis(col("ts")).as("ms"))
        .withColumn("nxt", lead(col("cur"), 1).over(order))
        .filter(col("nxt").isNotNull)
        .groupBy(col("cur"), col("nxt"))
        .agg(count(lit(1)).cast("long").as("n"))
      val byCur = Window.partitionBy(col("cur"))
      t.select(col("cur"), col("nxt"), col("n"),
          (col("n").cast("double") / sum(col("n")).over(byCur)).as("p"))
        .orderBy(col("cur"), col("nxt"))
    },

    // ---------------------------------------------------------------
    // q72 — MERGEABLE quantile sketches (KLL, Karnin-Lang-Liberty
    // 2016) over l_extendedprice: q57's exact form answers one
    // quantile question per corpus range-exchange; the KLL path
    // builds a few-KB sketch per partition map-side, merges
    // associatively through Spark's partial/final aggregation, and
    // answers ANY later quantile question from stored sketch bytes —
    // the p35 mergeable-stats story for order statistics. KLL
    // compaction is randomized-within-guarantee, so the gate follows
    // q59's sketch pattern: the HASHED columns are the EXACT
    // quantile values (EquiDepth ranks, q57's machinery) and a flag
    // asserting the estimate's rank lands within 2ε(k=200) ≈ 2.7% of
    // the target — exact values at ranks ceil((q ∓ 2ε)·n) bracket the
    // estimate iff its rank error is within the doubled 99%-confidence
    // bound (doubled so a tail draw can't flip a gated boolean). The
    // 12-row rank spine joins the ranked corpus once, broadcast.
    Q(
      "q72_kll_quantile_merge",
      """WITH r AS (
        |  SELECT l_extendedprice AS price,
        |    row_number() OVER (ORDER BY l_extendedprice,
        |      l_orderkey, l_linenumber) AS r,
        |    count(*) OVER () AS n
        |  FROM lineitem),
        |qs AS (SELECT * FROM (VALUES (0.25, 1, 4), (0.5, 1, 2),
        |    (0.9, 9, 10), (0.99, 99, 100)) AS v(q, qn, qd))
        |SELECT CAST(q AS DOUBLE) AS q, price AS value,
        |  CAST(TRUE AS BOOLEAN) AS within_rank_eps
        |FROM qs JOIN r
        |  ON r.r = GREATEST(1, (qn * n + qd - 1) // qd)
        |ORDER BY q""".stripMargin
    ) { (s, dir) =>
      import graft.operators.SketchOps
      val quantiles = Seq(0.25, 0.5, 0.9, 0.99)
      val eps2 = 2.0 * org.apache.datasketches.kll.KllSketch
        .getNormalizedRankError(200, false)
      val kll = udaf(new SketchOps.KllQuantiles(200, quantiles),
        org.apache.spark.sql.Encoders.scalaDouble)
      val est = Tables(s, dir, "lineitem")
        .agg(kll(col("l_extendedprice")).as("est"))
      val ranked = graft.operators.EquiDepth.withGlobalRank(
        Tables(s, dir, "lineitem")
          .select(col("l_extendedprice").as("price"),
            col("l_orderkey"), col("l_linenumber")),
        Seq(col("price"), col("l_orderkey"), col("l_linenumber")),
        "r", "n")
      val nRow = Tables(s, dir, "lineitem")
        .agg(count(lit(1)).cast("long").as("n_rows"))
      // 12-row spine: per quantile the target rank plus the ±2ε
      // bracket ranks, each tagged with its role. The TARGET rank is
      // an integer ceiling ⌈qn·n/qd⌉ = (qn·n + qd − 1) div qd (q75's
      // discipline: float ceil(0.9·n) can round UP off a binary
      // representation at round n); the ±2ε brackets stay float —
      // ε is irrational and they only feed the Spark-side flag.
      val ratio = quantiles.zipWithIndex.map {
        case (0.25, i) => (0.25, 1L, 4L, i)
        case (0.5, i)  => (0.5, 1L, 2L, i)
        case (0.9, i)  => (0.9, 9L, 10L, i)
        case (0.99, i) => (0.99, 99L, 100L, i)
        case (q, _) => sys.error(s"no exact rational for quantile $q")
      }
      val spine = nRow.crossJoin(est)
        .select(col("n_rows"), col("est"),
          explode(typedLit(ratio)).as("qi"))
        .select(col("qi._1").as("q"),
          col("qi._2").as("qn"), col("qi._3").as("qd"),
          element_at(col("est"), col("qi._4") + 1).as("estq"),
          col("n_rows"))
        .select(col("q"), col("estq"), explode(array(
          struct(lit("target").as("role"),
            greatest(lit(1L),
              expr("(qn * n_rows + qd - 1) div qd")).as("rk")),
          struct(lit("lo").as("role"),
            greatest(lit(1L), ceil((col("q") - lit(eps2))
              * col("n_rows")).cast("long")).as("rk")),
          struct(lit("hi").as("role"),
            least(col("n_rows"), ceil((col("q") + lit(eps2))
              * col("n_rows")).cast("long")).as("rk")))).as("x"))
        .select(col("q"), col("estq"), col("x.role").as("role"),
          col("x.rk").as("rk"))
      ranked.join(broadcast(spine), col("r") === col("rk"))
        .groupBy(col("q"), col("estq"))
        .agg(max(when(col("role") === "target", col("price")))
            .as("value"),
          max(when(col("role") === "lo", col("price"))).as("v_lo"),
          max(when(col("role") === "hi", col("price"))).as("v_hi"))
        .select(col("q"), col("value"),
          (col("estq") >= col("v_lo") && col("estq") <= col("v_hi"))
            .as("within_rank_eps"))
        .orderBy(col("q"))
    },

    // ---------------------------------------------------------------
    // q83 — THETA-SKETCH SET ALGEBRA across sources (Datasketches
    // theta family): the mergeable-stats leg p35/q59/q72 left open.
    // Question: how much 3-gram PHRASING does source A share with B
    // (cross-source contamination / provenance), i.e. |A∩B|, |A∪B|,
    // |A∖B| over each source's distinct shingle set. The exact
    // renderings are gated (distinct (source, shingle) → pair
    // equi-join; spine keeps zero-overlap pairs, d09 accounting); the
    // SCALE PATH is the theta side: ONE pass builds a ~32 KB sketch
    // per source through partial/final aggregation
    // (SketchOps.ThetaDistinct), and union/intersection/A-not-B then
    // answer ANY cross-source question from stored sketch bytes —
    // at 100 TB you never rescan either source, and sketches built
    // per ingest batch merge associatively. Gate follows q59/q72's
    // sketch pattern: exact values hashed + a flag asserting the
    // exact count lies within the sketch's 3-σ interval (the library
    // maximum; at 2-σ the 570 deterministic flags at sf0.1's
    // estimation scale hit their expected ~5% per-flag miss rate —
    // 2 pairs — while 3-σ covers every pair at every shipped SF). At
    // the DRIVER's gate SF every per-source set is < 4096 keys, so
    // the sketches are in EXACT mode and the flags are structurally
    // true regardless; the 8-shard error-bound contract is pinned
    // separately in ThetaSketchSpec. Theta flags cannot FLAKE either
    // way — the retained set is a pure function of the input set.
    // Driver-side work is the set algebra on 20 collected sketches —
    // model-state bytes, the k-means/PQ precedent — never row data.
    // Shingles travel as xxhash64 keys (d04's dictionary-encoding
    // argument: collisions ~|V|²/2⁶⁴ are negligible and counts are
    // identical, so the string-side oracle still matches).
    Q(
      "q83_theta_source_overlap",
      """WITH toks AS (
        |  SELECT source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source,
        |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
        |  FROM toks, unnest(generate_series(1,
        |    greatest(0, len(ws) - 2))) AS t(i)
        |  WHERE len(ws) >= 3),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM sh GROUP BY source),
        |pr AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS n_inter
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2),
        |sp AS (
        |  SELECT x.source AS src_a, y.source AS src_b,
        |    x.n AS n_a, y.n AS n_b
        |  FROM ns x JOIN ns y ON x.source < y.source)
        |SELECT sp.src_a, sp.src_b, n_a, n_b,
        |  COALESCE(n_inter, 0) AS n_inter,
        |  n_a + n_b - COALESCE(n_inter, 0) AS n_union,
        |  n_a - COALESCE(n_inter, 0) AS n_anotb,
        |  CAST(TRUE AS BOOLEAN) AS inter_in_bounds,
        |  CAST(TRUE AS BOOLEAN) AS union_in_bounds,
        |  CAST(TRUE AS BOOLEAN) AS anotb_in_bounds
        |FROM sp LEFT JOIN pr
        |  ON pr.src_a = sp.src_a AND pr.src_b = sp.src_b
        |ORDER BY sp.src_a, sp.src_b""".stripMargin
    ) { (s, dir) =>
      import graft.operators.{DedupOps, SketchOps}
      import org.apache.datasketches.theta.SetOperation
      // distinct (source, shingle-hash): ONE corpus pass feeds both
      // the exact side and the sketches — STAGED, because four
      // consumers (sketch agg, per-source totals, both pair-join
      // sides) would otherwise each re-run the explode+distinct
      // (measured 11.1 s → staged 4.4 s fresh at sf0.1)
      // Par.fan: the 3-gram explode+hash below is the 6.3 s single-task
      // stage of the round-10 bench (unsplittable one-file scan); fan
      // the 5 000 base rows across cores first (guide §2.5)
      val ks = graft.operators.Stage.stage(
        graft.operators.Par.fan(Tables(s, dir, "documents"))
        .select(col("source"),
          explode(DedupOps.shingles(DedupOps.words(col("text")), 3))
            .as("g"))
        .select(col("source"), xxhash64(col("g")).as("gh"))
        .distinct())
      // per-source sketches: the mergeable artifacts (model-state
      // bytes — ~32 KB per source regardless of corpus size)
      // per-source sketches + EXACT totals off ONE partial aggregation
      val sks = SketchOps.thetaPerKey(ks, col("source"), col("gh"))
      val bounds = for {
        ((a, na, sa), i) <- sks.zipWithIndex
        (b, nb, sb) <- sks.drop(i + 1)
      } yield {
        val in = SetOperation.builder().buildIntersection()
        in.intersect(sa); in.intersect(sb)
        val is = in.getResult()
        val un = SetOperation.builder().buildUnion()
        un.union(sa); un.union(sb)
        val us = un.getResult()
        val ab = SetOperation.builder().buildANotB().aNotB(sa, sb)
        (a, b, na, nb, is.getLowerBound(3), is.getUpperBound(3),
          us.getLowerBound(3), us.getUpperBound(3),
          ab.getLowerBound(3), ab.getUpperBound(3))
      }
      // the 190-row pair spine (keys, exact totals, sketch bounds) is
      // itself model-state-sized; as the preserved side of the left
      // outer join it cannot be built, so it takes no broadcast hint.
      // The only remaining corpus-side work is the intersection pair join
      val boundsDf = s.createDataFrame(bounds.toSeq)
        .toDF("src_a", "src_b", "n_a", "n_b", "i_lb", "i_ub",
          "u_lb", "u_ub", "a_lb", "a_ub")
      // pair counts WITHOUT the self-join (round 12): one exchange of
      // ks keyed on gh builds the per-shingle source list (bounded by
      // |sources|, so never a wide row), then the ordered pairs explode
      // MAP-SIDE and partial-aggregate before the |sources|²-key
      // exchange. The old ks⋈ks-on-gh shape shuffled ks twice and hash-
      // joined 754k intermediate rows; this shuffles it once and is
      // immune to hot-shingle skew in the join (guide §2.4/§2.5 —
      // measured: 2 Exchanges of ks → 1, one join stage removed).
      val perGh = ks.groupBy(col("gh"))
        .agg(collect_list(col("source")).as("ss"))
      val pairs = perGh
        .select(explode(col("ss")).as("src_a"), col("ss"))
        .select(col("src_a"), explode(col("ss")).as("src_b"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).cast("long").as("n_inter"))
      boundsDf.join(pairs, Seq("src_a", "src_b"), "left_outer")
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          coalesce(col("n_inter"), lit(0L)).as("n_inter"),
          (col("n_a") + col("n_b") -
            coalesce(col("n_inter"), lit(0L))).as("n_union"),
          (col("n_a") - coalesce(col("n_inter"), lit(0L)))
            .as("n_anotb"),
          col("i_lb"), col("i_ub"), col("u_lb"), col("u_ub"),
          col("a_lb"), col("a_ub"))
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          col("n_inter"), col("n_union"), col("n_anotb"),
          (col("n_inter").cast("double") >= col("i_lb") &&
            col("n_inter").cast("double") <= col("i_ub"))
            .as("inter_in_bounds"),
          (col("n_union").cast("double") >= col("u_lb") &&
            col("n_union").cast("double") <= col("u_ub"))
            .as("union_in_bounds"),
          (col("n_anotb").cast("double") >= col("a_lb") &&
            col("n_anotb").cast("double") <= col("a_ub"))
            .as("anotb_in_bounds"))
        .orderBy(col("src_a"), col("src_b"))
    },

    // ---------------------------------------------------------------
    // q86 — FREQUENT-ITEMS (heavy-hitter) sketch over corpus tokens:
    // the last leg of the mergeable-summary story (p35 moments, q59
    // HLL distinct, q72 KLL quantiles, q83 theta set algebra — this
    // adds FREQUENCIES, Agarwal et al. "Mergeable Summaries", PODS
    // 2012). Question: the corpus's dominant tokens — the input to
    // stopword lists, domain caps (p10) and q47-style abuse triage —
    // answered two ways: the exact top-20 (count, total-order
    // tie-break on the token) is gated value-for-value, and a
    // Datasketches LongsSketch built in ONE pass through partial/
    // final aggregation (SketchOps.FreqLongs) enters through two
    // STRUCTURALLY-TRUE flags: `in_bounds` (the exact count does not
    // exceed the sketch's upper bound — the collision-safe HALF of
    // the Misra–Gries bracket: tokens travel as xxhash64 keys, and a
    // 64-bit collision MERGES two tokens' counts, which can only
    // raise the shared key's lb/ub — so `n ≤ ub` survives collisions
    // while `lb ≤ n` does not, and only the former is gated) and
    // `no_false_negative` (every item with true count > maxError is
    // retained; untracked items are provably ≤ maxError — collisions
    // only ADD retained mass, so this too is collision-safe). Flags
    // cannot flake — they hold for every purge order — so the oracle
    // renders them as literal TRUE (q83's pattern); the TWO-SIDED
    // [lb, ub] bracket (valid on collision-free keys), the
    // forced-purge error-bound contract and the 8-shard merge are
    // pinned separately in FreqSketchSpec. At 100 TB: per-partition
    // sketches are O(maxMapSize) memory, the merged summary is ~16 KB
    // of driver model state per corpus/shard, built once per ingest
    // batch and merged associatively — top-token monitoring without
    // ever re-scanning, vs the exact side's full token shuffle. The
    // gated token strings come from the exact side, so collisions
    // cannot corrupt the reported counts.
    Q(
      "q86_frequent_tokens",
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
        |    AS token
        |  FROM documents),
        |cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS n
        |  FROM tok GROUP BY token)
        |SELECT token, n, CAST(TRUE AS BOOLEAN) AS in_bounds,
        |  CAST(TRUE AS BOOLEAN) AS no_false_negative
        |FROM cnt ORDER BY n DESC, token LIMIT 20""".stripMargin
    ) { (s, dir) =>
      import graft.operators.{DedupOps, SketchOps, Stage}
      // one tokenization pass feeds the sketch build AND the exact
      // counts (two consumers — staged, q83's rationale)
      val toks = Stage.stage(Tables(s, dir, "documents")
        .select(explode(DedupOps.words(col("text"))).as("token"))
        .select(col("token"), xxhash64(col("token")).as("th")))
      val sk = SketchOps.freqSketch(toks, col("th"), 1024)
      val maxErr = sk.getMaximumError
      // every retained item with its bounds (threshold 0 keeps the
      // whole ≤1024-entry map) — model-state-sized, broadcast back
      val rows = sk.getFrequentItems(0L,
          org.apache.datasketches.frequencies.ErrorType.NO_FALSE_NEGATIVES)
        .map(r => (r.getItem, r.getEstimate, r.getLowerBound,
          r.getUpperBound)).toSeq
      val skDf = s.createDataFrame(rows)
        .toDF("th", "est", "lb", "ub")
      val top = toks.groupBy(col("token"), col("th"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
      top.join(broadcast(skDf), Seq("th"), "left_outer")
        .select(col("token"), col("n"),
          (col("n") <= coalesce(col("ub"), lit(maxErr)))
            .as("in_bounds"),
          (coalesce(col("est"), lit(0L)) > 0 || col("n") <= lit(maxErr))
            .as("no_false_negative"))
        .orderBy(col("n").desc, col("token"))
    },

    // ---------------------------------------------------------------
    // q92 — SKETCH-STORE ROUND TRIP: the "never rescan" claim of the
    // mergeable-summary family (q59 HLL, q72 KLL, q83 theta, q86
    // frequencies) proven as a correctness row, not a comment. The
    // audience-overlap question — how many distinct users does each
    // event type share with each other type — is answered in three
    // steps: (1) ONE partial/final aggregation pass builds a per-type
    // sketch TABLE (theta over user ids, KLL over event values,
    // frequencies over user ids — SketchOps.writeSketchStore) and
    // PERSISTS it as parquet (the m12 sink-relay precedent applied to
    // sketch bytes); (2) the theta set algebra (∩, ∪, ∖ with 3-σ
    // bounds) runs from the STORED BYTES ALONE — nothing re-reads the
    // events table (SketchOps.thetaOverlapBoundsFromStore, a
    // model-state collect of ~32 KB per type); (3) the exact legs
    // (distinct users per type, pair intersections via ONE user-keyed
    // equi-join on the staged distinct frame) gate value-for-value,
    // and the sketch answers enter as q83-style structurally-true
    // bracket flags. At the gate SF the per-type user sets are < 4096
    // keys so the sketches are exact and the flags cannot flake; the
    // stored-vs-in-session byte identity and the 8-shard merge
    // contract are pinned in SketchStoreSpec / ThetaSketchSpec.
    // At 100 TB: per-ingest-batch stores merge associatively, and any
    // later cross-batch question costs a metadata-sized read.
    Q(
      "q92_sketch_store_roundtrip",
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
        |ns AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM u GROUP BY 1),
        |pr AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.n AS n_a, b.n AS n_b
        |  FROM ns a JOIN ns b ON a.event_type < b.event_type),
        |iv AS (
        |  SELECT x.event_type AS type_a, y.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_inter
        |  FROM u x JOIN u y ON x.user_id = y.user_id
        |    AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT pr.type_a, pr.type_b, pr.n_a, pr.n_b,
        |  COALESCE(iv.n_inter, 0) AS n_inter,
        |  pr.n_a + pr.n_b - COALESCE(iv.n_inter, 0) AS n_union,
        |  pr.n_a - COALESCE(iv.n_inter, 0) AS n_anotb,
        |  CAST(TRUE AS BOOLEAN) AS inter_in_bounds,
        |  CAST(TRUE AS BOOLEAN) AS union_in_bounds,
        |  CAST(TRUE AS BOOLEAN) AS anotb_in_bounds
        |FROM pr LEFT JOIN iv
        |  ON iv.type_a = pr.type_a AND iv.type_b = pr.type_b
        |ORDER BY pr.type_a, pr.type_b""".stripMargin
    ) { (s, dir) =>
      import graft.operators.{SketchOps, Stage}
      val ev = Tables(s, dir, "events")
      // maintained once per (session, dir), answered many times — the
      // store contract (see SharedSketchStore)
      val store = SharedSketchStore.path(s, dir)
      // everything below this line that touches sketches reads the
      // STORE, not the corpus
      val boundsDf = broadcast(s.createDataFrame(
          SketchOps.thetaOverlapBoundsFromStore(s, store, 3))
        .toDF("type_a", "type_b", "i_lb", "i_ub", "u_lb", "u_ub",
          "a_lb", "a_ub"))
      // exact legs: staged distinct frame feeds per-type totals and
      // both sides of the pair intersection equi-join
      val u = Stage.stage(
        ev.select(col("event_type"), col("user_id")).distinct())
      val ns = u.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"))
      val pairs = u.as("a")
        .join(u.as("b"), col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(count(lit(1)).cast("long").as("n_inter"))
      boundsDf
        .join(broadcast(ns.select(col("event_type").as("type_a"),
          col("n").as("n_a"))), Seq("type_a"))
        .join(broadcast(ns.select(col("event_type").as("type_b"),
          col("n").as("n_b"))), Seq("type_b"))
        .join(pairs, Seq("type_a", "type_b"), "left_outer")
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          coalesce(col("n_inter"), lit(0L)).as("n_inter"),
          (col("n_a") + col("n_b") -
            coalesce(col("n_inter"), lit(0L))).as("n_union"),
          (col("n_a") - coalesce(col("n_inter"), lit(0L)))
            .as("n_anotb"),
          col("i_lb"), col("i_ub"), col("u_lb"), col("u_ub"),
          col("a_lb"), col("a_ub"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_inter"), col("n_union"), col("n_anotb"),
          (col("n_inter").cast("double") >= col("i_lb") &&
            col("n_inter").cast("double") <= col("i_ub"))
            .as("inter_in_bounds"),
          (col("n_union").cast("double") >= col("u_lb") &&
            col("n_union").cast("double") <= col("u_ub"))
            .as("union_in_bounds"),
          (col("n_anotb").cast("double") >= col("a_lb") &&
            col("n_anotb").cast("double") <= col("a_ub"))
            .as("anotb_in_bounds"))
        .orderBy(col("type_a"), col("type_b"))
    },

    // ---------------------------------------------------------------
    // q92b — QUANTILES FROM THE STORE ALONE: q92 proved the theta leg
    // of the sketch store answers from stored bytes; this closes the
    // KLL leg (VERDICT r10 task #5) — "what is each event type's
    // median / p90 value" answered by heapifying the PERSISTED kll
    // bytes (SketchOps.kllQuantilesFromStore), never re-reading the
    // events table for the sketch side. Gate follows q72's
    // discipline exactly: the HASHED columns are the exact per-type
    // quantile values — per-type ranks from EquiDepth's range
    // exchange over the composite (type, value, id) order minus
    // bounded per-type offsets, never a type-partitioned window (a
    // bounded-vocab partition key is one task per type at 100 TB);
    // the SCALE answer path at 100 TB is the store itself, the
    // exact leg is the audit — at the integer ceiling
    // rank ⌈qn·n/qd⌉ (q75: float ceil can round off a binary
    // representation), and the store's estimate enters ONLY through
    // the within_rank_eps flag — exact values at ranks (q ∓ 2ε)·n
    // bracket it iff its rank error is within the doubled
    // 99%-confidence bound for k=200 (doubled so a tail draw cannot
    // flip a gated boolean; KLL compaction is randomized). The store
    // build is the same ONE partial/final aggregation pass q92
    // documents; cross-batch stores merge associatively.
    Q(
      "q92b_store_quantiles",
      """WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS r,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n
        |  FROM events),
        |qs AS (SELECT * FROM (VALUES (0.25, 1, 4), (0.5, 1, 2),
        |    (0.9, 9, 10)) AS v(q, qn, qd))
        |SELECT event_type, CAST(q AS DOUBLE) AS q, n, value,
        |  CAST(TRUE AS BOOLEAN) AS within_rank_eps
        |FROM qs JOIN r ON r.r = GREATEST(1, (qn * n + qd - 1) // qd)
        |ORDER BY event_type, q""".stripMargin
    ) { (s, dir) =>
      import graft.operators.SketchOps
      val ev = Tables(s, dir, "events")
      // maintained once per (session, dir), answered many times — the
      // store contract (see SharedSketchStore)
      val store = SharedSketchStore.path(s, dir)
      // the sketch side below reads ONLY the store
      val quantiles = Seq(0.25, 0.5, 0.9)
      val eps2 = 2.0 * org.apache.datasketches.kll.KllSketch
        .getNormalizedRankError(200, false)
      val est = broadcast(s.createDataFrame(
          SketchOps.kllQuantilesFromStore(s, store, quantiles))
        .toDF("event_type", "q", "estq"))
      // exact side + flag assembly: the shared ceiling-rank harness
      // (QuantileRankGate — also driven by ws14 against the
      // stream-maintained sharded store)
      QuantileRankGate.gate(ev, est, eps2)
    },

    // ---------------------------------------------------------------
    // q92c — HEAVY HITTERS FROM THE STORE ALONE: the frequencies leg
    // of the q92 store contract (VERDICT r10 task #5) — "which users
    // dominate each event type" answered from the PERSISTED freq
    // bytes (SketchOps.freqEstimatesFromStore), never re-reading the
    // events table for the sketch side. Gate is q86's discipline:
    // the exact per-type top-5 users (count, total-order tie-break on
    // user_id) are gated value-for-value, and the store's estimates
    // enter through the two STRUCTURALLY-TRUE flags — `in_bounds`
    // (true count ≤ stored ub, falling back to the store's maxError
    // for untracked users) and `no_false_negative` (a user the store
    // dropped is provably ≤ maxError) — which hold for EVERY purge
    // and merge order, so the oracle renders them as literal TRUE.
    // User ids are native 64-bit keys (no hashing), so unlike q86 no
    // collision caveat applies and both bracket halves are sound; the
    // forced-purge and 8-shard-merge contracts are pinned in
    // FreqSketchSpec. At 100 TB: the per-type summary is ~16 KB of
    // model state per ingest batch, merged associatively — top-user
    // monitoring without rescanning (Agarwal et al., PODS 2012).
    Q(
      "q92c_store_heavy_users",
      """WITH c AS (
        |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, user_id, n,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY n DESC, user_id) AS rk
        |  FROM c)
        |SELECT event_type, user_id, n,
        |  CAST(TRUE AS BOOLEAN) AS in_bounds,
        |  CAST(TRUE AS BOOLEAN) AS no_false_negative
        |FROM r WHERE rk <= 5
        |ORDER BY event_type, user_id""".stripMargin
    ) { (s, dir) =>
      import graft.operators.SketchOps
      import org.apache.spark.sql.expressions.Window
      val ev = Tables(s, dir, "events")
      // maintained once per (session, dir), answered many times — the
      // store contract (see SharedSketchStore)
      val store = SharedSketchStore.path(s, dir)
      // the sketch side below reads ONLY the store. estDf is bounded
      // at maxMapSize(1024)·|types| rows by Misra-Gries state, but it
      // RAMPS toward that cap as the corpus grows (below saturation
      // every distinct user is tracked), so no forced broadcast hint:
      // the local relation stays under the size-based auto-broadcast
      // threshold at every scale and AQE picks the strategy.
      val (estRows, errRows) = SketchOps.freqEstimatesFromStore(s, store)
      val estDf = s.createDataFrame(estRows)
        .toDF("event_type", "user_id", "est", "lb", "ub")
      val errDf = broadcast(s.createDataFrame(errRows)
        .toDF("event_type", "max_err"))
      // exact side: per-(type, user) counts, top-5 per type (the
      // rank-filter shape RewriteRankFilterToGroupTopK turns into the
      // GroupTopK physical op — no full per-type sort materializes)
      val counts = ev.groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).cast("long").as("n"))
      val byType = Window.partitionBy(col("event_type"))
        .orderBy(col("n").desc, col("user_id"))
      counts.withColumn("rk", row_number().over(byType))
        .filter(col("rk") <= 5).drop("rk")
        .join(estDf, Seq("event_type", "user_id"), "left_outer")
        .join(errDf, Seq("event_type"))
        .select(col("event_type"), col("user_id"), col("n"),
          (col("n") <= coalesce(col("ub"), col("max_err")))
            .as("in_bounds"),
          (coalesce(col("est"), lit(0L)) > 0 ||
            col("n") <= col("max_err")).as("no_false_negative"))
        .orderBy(col("event_type"), col("user_id"))
    },

    // ---------------------------------------------------------------
    // q92d — AUDIT SAMPLE FROM THE STORE ALONE: the fourth and last
    // leg of the q92 sketch store. q93 proved the VarOpt aggregation
    // (Cohen et al., SODA 2009) live; q92d persists a per-type
    // VarOpt(64) sample of event ids weighted by integer payload mass
    // (greatest(1, round(value·100)) — positive, integer-valued, so
    // every weight sum is an exact BIGINT in both engines) in the SAME
    // one-pass store build as theta/KLL/freq, then answers the audit
    // question from stored bytes alone: "hand me ≤ k events per type
    // whose inclusion probability tracks their value mass, with
    // adjusted weights that estimate any subset's total unbiasedly."
    // Sample CONTENTS are randomized (which light items survive the R
    // region), so — q93's discipline — the gate carries only
    // structurally-true surfaces: sample size is exactly min(k, n),
    // the adjusted-weight total is exactly the per-type total weight
    // (the VarOpt invariant; 1e-9 relative flag for float-sum slack),
    // adjusted weights never fall below true weights (H keeps w, R
    // lifts to τ ≥ w), and every sampled id joins back to a real
    // event of its type. Corpus-side work: the store build plus one
    // join of the ≤ k·|types|-row sample (hard-bounded by the k=64
    // constant, so the broadcast hint is safe at every scale) for the
    // membership/weight-floor checks.
    Q(
      "q92d_store_varopt",
      """SELECT event_type, CAST(64 AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(GREATEST(1, CAST(round(value * 100) AS BIGINT)))
        |    AS BIGINT) AS total_weight,
        |  CAST(least(64, count(*)) AS BIGINT) AS sample_size,
        |  CAST(TRUE AS BOOLEAN) AS est_total_ok,
        |  CAST(TRUE AS BOOLEAN) AS adjusted_weights_ok,
        |  CAST(TRUE AS BOOLEAN) AS items_are_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      import graft.operators.SketchOps
      val ev = Tables(s, dir, "events")
      // maintained once per (session, dir), answered many times — the
      // store contract (see SharedSketchStore)
      val store = SharedSketchStore.path(s, dir)
      // the sketch side below reads ONLY the store
      val (sampleRows, totals) = SketchOps.varoptFromStore(s, store)
      val sampleDf = broadcast(s.createDataFrame(sampleRows)
        .toDF("event_type", "event_id", "adj_w"))
      val totalsDf = broadcast(s.createDataFrame(totals)
        .toDF("event_type", "sample_size", "adj_total"))
      // exact legs: per-type counts and exact-integer weight totals,
      // plus the membership/weight-floor checks riding ONE inner join
      // of the ≤ 64·|types|-row sample (an unmatched sampled id simply
      // doesn't join, failing the count equality)
      val w = greatest(lit(1L), round(col("value") * 100).cast("long"))
      val exact = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(w).cast("long").as("total_weight"))
      val checks = ev
        .select(col("event_type"), col("event_id"), w.as("true_w"))
        .join(sampleDf, Seq("event_type", "event_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_matched"),
          sum(when(col("adj_w") >=
              col("true_w").cast("double") - lit(1e-6), 1L)
            .otherwise(0L)).cast("long").as("n_w_ok"))
      // the gated sample_size is the STORE's own count — VarOpt
      // retains exactly min(k, n), which is what the oracle pins
      exact
        .join(broadcast(checks), Seq("event_type"), "left_outer")
        .join(totalsDf, Seq("event_type"))
        .select(col("event_type"), lit(64L).as("k"), col("n"),
          col("total_weight"), col("sample_size"),
          (abs(col("adj_total") - col("total_weight").cast("double"))
            <= lit(1e-9) * col("total_weight").cast("double"))
            .as("est_total_ok"),
          (coalesce(col("n_w_ok"), lit(0L)) === col("sample_size"))
            .as("adjusted_weights_ok"),
          (coalesce(col("n_matched"), lit(0L)) === col("sample_size"))
            .as("items_are_events"))
        .orderBy(col("event_type"))
    },

    // ---------------------------------------------------------------
    // q93 — VarOpt WEIGHTED SAMPLING (Cohen et al., SODA 2009): the
    // missing leg of the mergeable-summary family — p35 moments, q59
    // HLL distinct, q72 KLL quantiles, q83 theta sets, q86 heavy
    // hitters, and now the variance-optimal weighted SAMPLE a 100 TB
    // mixture pipeline keeps per ingest batch for audit subsets
    // (inspect k documents whose inclusion probability tracks token
    // mass, and estimate any subset's weight from the sample without
    // rescanning). p18/p19 draw exact weighted samples with a full
    // corpus shuffle per draw; VarOpt is ONE partial/final aggregation
    // pass into ~k items of state, mergeable across shards. The
    // sample CONTENTS are randomized (which light items survive the R
    // region), so — q72/q86's discipline — the gate carries only
    // structurally-true surfaces: the threshold τ and the heavy set
    // {w > τ} are deterministic in the weight multiset, the sum of
    // adjusted weights is exactly the total stream weight (the VarOpt
    // invariant; flagged at 1e-9 relative for float-sum slack),
    // adjusted weights never fall below true weights (H keeps w, R
    // lifts to τ ≥ w), sample size is exactly min(k, n), and every
    // sampled id joins back to a real document. Corpus-side work: the
    // sketch pass plus one broadcast join of the k-row sample for the
    // membership/weight checks; the 8-shard merge and the planted
    // heavy-item determinism are pinned in SketchStoreSpec.
    Q(
      "q93_varopt_sample",
      """SELECT CAST(64 AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_weight,
        |  CAST(least(64, count(*)) AS BIGINT) AS sample_size,
        |  CAST(TRUE AS BOOLEAN) AS est_total_ok,
        |  CAST(TRUE AS BOOLEAN) AS adjusted_weights_ok,
        |  CAST(TRUE AS BOOLEAN) AS items_are_docs
        |FROM documents""".stripMargin
    ) { (s, dir) =>
      import graft.operators.SketchOps
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
      val sample = SketchOps.varoptSample(docs, col("doc_id"),
        col("n_chars").cast("double"), 64)
      // the sample is already driver-side model state (~k rows): its
      // size and adjusted-weight total enter as literals; the
      // membership + weight-floor checks ride ONE broadcast inner
      // join of the k-row sample against the corpus (an unmatched
      // sample id simply doesn't join, failing the count equality)
      val nSample = sample.length.toLong
      val estTotal = sample.map(_._2).sum
      val sampleDf = broadcast(s.createDataFrame(sample)
        .toDF("doc_id", "adj_w"))
      val checks = docs.join(sampleDf, Seq("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_matched"),
          sum(when(col("adj_w") >=
              col("n_chars").cast("double") - lit(1e-6), 1L)
            .otherwise(0L)).cast("long").as("n_w_ok"))
      val exact = docs.agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_weight"))
      exact.crossJoin(broadcast(checks))
        .select(lit(64L).as("k"), col("n_docs"), col("total_weight"),
          lit(nSample).as("sample_size"),
          (abs(lit(estTotal) - col("total_weight").cast("double"))
            <= lit(1e-9) * col("total_weight").cast("double"))
            .as("est_total_ok"),
          (col("n_w_ok") === lit(nSample)).as("adjusted_weights_ok"),
          (col("n_matched") === lit(nSample)).as("items_are_docs"))
    }
  )
}

/** The q92-family sketch store: ONE aggregation pass builds all four
  * legs (theta/KLL/freq/varopt); q92/q92b/q92c/q92d each read only
  * their kind. One shared definition so the four queries stay on the
  * identical store schema.
  *
  * Built FRESH on every call: a per-(session, dir) memo would let a
  * bench rep (or a sibling q92 query in the same JVM) answer from a
  * store an earlier invocation computed, i.e. the reported time would
  * no longer cover computing from the parquet inputs. In a deployed
  * pipeline the store IS maintained once per ingest batch and answered
  * many times — but the bench contract times the full
  * maintain-then-answer path per invocation, so each call pays the
  * build. */
private[queries] object SharedSketchStore {
  import org.apache.spark.sql.SparkSession

  def path(s: SparkSession, dir: String): String = {
    val store = graft.TempRoots.create("graft-skstore-shared") +
      "/sketch_store"
    graft.operators.SketchOps.writeSketchStore(
      Tables(s, dir, "events"), col("event_type"),
      col("user_id"), col("value"), col("user_id"), col("event_id"),
      greatest(lit(1L), round(col("value") * 100).cast("long")),
      store)
    store
  }
}
