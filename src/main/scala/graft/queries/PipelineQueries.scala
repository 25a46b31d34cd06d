package graft.queries

import graft.{Q, Tables}
import graft.operators.{DedupOps, Stage, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond the reference's surface —
  * the batch-shaping stages an LLM pretraining corpus goes through
  * after dedup/quality filtering (each with an exact DuckDB oracle):
  *
  *  - p01 sequence packing: greedy in-order packing of documents into
  *    fixed token-budget training sequences (cumulative-sum binning —
  *    the standard streaming approximation of first-fit).
  *  - p02 source mixing: deterministic weighted subsampling per source
  *    via an md5-threshold coin — reproducible across engines/runs, no
  *    RNG state, exactly the "keep p% of source X" mixing step.
  *  - p03 stratified sampling: exact k-per-stratum sample with an
  *    md5-ranked order — a seeded shuffle both engines reproduce.
  *
  * Scale posture: p01 is one window over (source, doc order) — a single
  * shuffle by source; p02 is a pure filter (no shuffle at all); p03 is
  * one shuffle by stratum with an early rank cutoff. All are
  * hash-routable at 100 TB; nothing is collected or iterated.
  */
object PipelineQueries {

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------
    // p01 — pack documents into 2048-token training sequences per
    // source, in doc_id order: bin = floor(tokens-before-me / budget).
    Q(
      "p01_sequence_packing",
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |packed AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
        |      / 2048.0) AS BIGINT) AS bin_id
        |  FROM toks)
        |SELECT source, bin_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM packed GROUP BY source, bin_id
        |ORDER BY source, bin_id""".stripMargin
    ) { (s, dir) =>
      val toks = Tables(s, dir, "documents").select(
        col("doc_id"), col("source"),
        size(DedupOps.words(col("text"))).cast("long").as("n_tokens"))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      toks
        .withColumn("bin_id",
          floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / 2048.0)
            .cast("long"))
        .groupBy(col("source"), col("bin_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("source"), col("bin_id"))
    },

    // ---------------------------------------------------------------
    // p02 — weighted source mixing: even-numbered sources keep 75%,
    // odd-numbered 25%. The coin is md5(doc_id) compared against the
    // weight rendered as a 32-hex-char threshold — lexicographic hex
    // compare IS the numeric compare, so both engines flip the same
    // coin for every row (0xc000… / 16^32 = 0.75, 0x4000… = 0.25).
    Q(
      "p02_source_mix",
      """SELECT doc_id, source FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR)) <
        |  CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
        |       THEN 'c0000000000000000000000000000000'
        |       ELSE '40000000000000000000000000000000'
        |  END
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "documents")
        .filter(md5(col("doc_id").cast("string")) <
          when(expr("CAST(substring(source, 4) AS INT)") % 2 === 0,
            lit("c0000000000000000000000000000000"))
          .otherwise(lit("40000000000000000000000000000000")))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },

    // ---------------------------------------------------------------
    // p03 — stratified sample: exactly 20 docs per language, chosen by
    // the md5-ranked order (a seedless deterministic shuffle), doc_id
    // as the tiebreak.
    Q(
      "p03_stratified_sample",
      """SELECT lang, doc_id, rn FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 20
        |ORDER BY lang, rn""".stripMargin
    ) { (s, dir) =>
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 20)
        .orderBy(col("lang"), col("rn"))
    },

    // ---------------------------------------------------------------
    // p04 — duplicate-CLUSTER consolidation: exact and near dups form
    // chains (A ≡ A+200000 by normalized-text hash, A ≈ A+100000 by
    // min-8-gram fingerprint); picking one canonical doc per connected
    // component is the consolidation step after pairwise dedup. Labels
    // propagate as GROUP minimums (two windows per round, three
    // rounds) — connected components without ever materializing pairs,
    // which is what survives at 100 TB (a pairwise closure would be
    // quadratic in cluster size). Both engines run exactly the same 3
    // rounds, so results agree even on an unconverged pathological
    // chain.
    Q(
      "p04_dup_clusters",
      s"""WITH ${DedupQueries.corpusSql},
        |dup AS (
        |  SELECT doc_id, text FROM corpus
        |  UNION ALL
        |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 10 = 0),
        |nodes AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_filter(string_split(text, ' '), x -> x <> ''), ' ')) AS k1,
        |    list_min(list_transform(generate_series(1, length(text) - 7),
        |      i -> md5(substr(text, i, 8)))) AS k2,
        |    doc_id AS lab
        |  FROM dup),
        |i1 AS (SELECT doc_id, k1, k2, least(
        |    min(lab) OVER (PARTITION BY k1),
        |    min(lab) OVER (PARTITION BY k2)) AS lab FROM nodes),
        |i2 AS (SELECT doc_id, k1, k2, least(
        |    min(lab) OVER (PARTITION BY k1),
        |    min(lab) OVER (PARTITION BY k2)) AS lab FROM i1),
        |i3 AS (SELECT doc_id, k1, k2, least(
        |    min(lab) OVER (PARTITION BY k1),
        |    min(lab) OVER (PARTITION BY k2)) AS lab FROM i2)
        |SELECT lab AS cluster_id, count(*) AS n_docs,
        |  min(doc_id) AS canonical_id, max(doc_id) AS max_id
        |FROM i3 GROUP BY lab ORDER BY cluster_id""".stripMargin
    ) { (s, dir) =>
      val (_, labeled) = labeledDupCorpus(s, dir)
      labeled.groupBy(col("lab").as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("canonical_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("cluster_id"))
    },

    // ---------------------------------------------------------------
    // p05 — eval-set decontamination: drop training documents sharing
    // any 13-word-gram with the held-out eval slice (doc_id % 7 = 0).
    // One distinct-gram build per side + a semi-join on the gram —
    // the standard n-gram-overlap decontamination pass, hash-joinable
    // at any scale.
    Q(
      "p05_decontaminate",
      s"""WITH ${DedupQueries.corpusSql},
        |ws AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |       FROM corpus),
        |grams AS (
        |  SELECT doc_id, unnest(CASE WHEN len(w) >= 13
        |    THEN list_transform(generate_series(1, len(w) - 12),
        |      i -> array_to_string(w[i:i+12], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END) AS g
        |  FROM ws)
        |SELECT DISTINCT doc_id FROM grams
        |WHERE NOT (doc_id % 7 = 0 AND doc_id < 100000)
        |  AND g IN (SELECT g FROM grams WHERE doc_id % 7 = 0 AND doc_id < 100000)
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val corpus = DedupQueries.corpusWithNearDups(Tables(s, dir, "documents"))
      val grams = corpus
        .withColumn("w", DedupOps.words(col("text")))
        .select(col("doc_id"),
          explode(DedupOps.shingles(col("w"), 13)).as("g"))
      val isEval = col("doc_id") % 7 === 0 && col("doc_id") < 100000
      val evalG = grams.filter(isEval).select(col("g")).distinct()
      grams.filter(!isEval)
        .join(evalG, Seq("g"), "left_semi")
        .select(col("doc_id")).distinct()
        .orderBy(col("doc_id"))
    },

    // ---------------------------------------------------------------
    // p06 — connected components to a FIXPOINT: where p04 runs a fixed
    // round count (both engines agree even unconverged), p06 is the
    // real closure — iterate min-label propagation with pointer
    // jumping (lab := lab(lab)) until no label moves. Pointer jumping
    // halves the remaining path each round, so convergence is
    // O(log diameter) rounds, not O(diameter) — the difference between
    // 30 and 2^30 rounds on a long dup chain at 100 TB. Each round is
    // two equi-joins + a min-aggregation, lineage truncated via
    // Stage.stage; the convergence probe is a single driver-side
    // scalar (limit(1).count on changed labels), never row data.
    // The edge set is a deterministic benchmark graph over documents
    // (16-doc chains cross-linked every 23 ids — stand-in for any
    // blocking-key edge list, e.g. d02's band pairs); the oracle is a
    // DuckDB recursive CTE computing the same transitive closure.
    Q(
      "p06_connected_components",
      """WITH RECURSIVE
        |ids AS (SELECT doc_id AS id FROM documents),
        |fwd AS (
        |  SELECT id AS src, id + 1 AS dst FROM ids WHERE id % 16 <> 15
        |    AND id + 1 IN (SELECT id FROM ids)
        |  UNION ALL
        |  SELECT id, id + 5 FROM ids WHERE id % 23 = 0
        |    AND id + 5 IN (SELECT id FROM ids)),
        |edges AS (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
        |walk(id, lab) AS (
        |  SELECT id, id FROM ids
        |  UNION
        |  SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id
        |    WHERE w.lab < e.dst),
        |cc AS (SELECT id, min(lab) AS cluster_id FROM walk GROUP BY id)
        |SELECT cluster_id, count(*) AS n_docs, max(id) AS max_id
        |FROM cc GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
    ) { (s, dir) =>
      val ids = Tables(s, dir, "documents").select(col("doc_id").as("id"))
      val chain = ids.select(col("id").as("src"))
        .filter(col("src") % 16 =!= 15)
        .join(ids.select(col("id").as("dst")), col("dst") === col("src") + 1)
      val cross = ids.select(col("id").as("src"))
        .filter(col("src") % 23 === 0)
        .join(ids.select(col("id").as("dst")), col("dst") === col("src") + 5)
      val fwd = chain.unionByName(cross)
      // staged pre-partitioned on src (q39's round-12 pattern): every
      // MinLabel round joins edges on src — the checkpoint-preserved
      // partitioning replaces a per-round shuffle of the edge table
      val edges = Stage.stageExact(fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("src")))

      // shared fixpoint loop (operators/MinLabel): min-label
      // propagation + pointer jump per round, sum-based convergence
      // probe (round-12: one scalar agg per round instead of a
      // join-back + limit(1).count against the previous generation)
      val lab = graft.operators.MinLabel.fixpoint(
        ids.select(col("id"), col("id").as("lab")), edges)
      lab.groupBy(col("lab").as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_id"))
        .orderBy(col("cluster_id"))
    },

    // ---------------------------------------------------------------
    // p07 — token-budget rebalancing: where p02 applies FIXED mixture
    // weights, p07 derives them from the data — each language is
    // subsampled toward an equal share of the total token budget
    // (keep fraction = target/lang_tokens, capped at 1), applied with
    // the same deterministic md5 coin (the fraction becomes an 8-hex
    // threshold; lexicographic compare ≡ numeric compare). Shape at
    // 100 TB: one aggregation to per-language totals (a LANGUAGES-sized
    // table), a broadcast join back, and a stateless filter — no
    // shuffle of the corpus itself.
    Q(
      "p07_token_rebalance",
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |per_lang AS (
        |  SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens
        |  FROM toks GROUP BY lang),
        |tot AS (SELECT CAST(sum(lang_tokens) AS DOUBLE) / count(*) AS target
        |        FROM per_lang),
        |thr AS (
        |  SELECT lang,
        |    CASE WHEN lang_tokens <= target THEN 'ffffffffffffffffffffffffffffffff'
        |         ELSE printf('%08x',
        |           CAST(floor(target / lang_tokens * 4294967296.0) AS BIGINT))
        |    END AS keep_thr
        |  FROM per_lang CROSS JOIN tot)
        |SELECT t.lang, t.doc_id, t.n_tokens
        |FROM toks t JOIN thr ON t.lang = thr.lang
        |WHERE substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 8) < keep_thr
        |ORDER BY t.lang, t.doc_id""".stripMargin
    ) { (s, dir) =>
      // staged: the tokenization feeds both the per-language totals and
      // the final filter — one pass over `text`, and the staged table
      // carries only (doc_id, lang, n_tokens), never the text itself
      val toks = Stage.stage(Tables(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        size(DedupOps.words(col("text"))).cast("long").as("n_tokens")))
      val perLang = toks.groupBy(col("lang"))
        .agg(sum(col("n_tokens")).as("lang_tokens"))
      val tot = perLang.agg(
        (sum(col("lang_tokens")).cast("double") / count(lit(1))).as("target"))
      val thr = perLang.crossJoin(broadcast(tot))
        .select(col("lang"),
          when(col("lang_tokens") <= col("target"), lit("f" * 32))
            .otherwise(format_string("%08x",
              floor(col("target") / col("lang_tokens") * 4294967296.0)
                .cast("long")))
            .as("keep_thr"))
      toks.join(broadcast(thr), Seq("lang"))
        .filter(substring(md5(col("doc_id").cast("string")), 1, 8)
          < col("keep_thr"))
        .select(col("lang"), col("doc_id"), col("n_tokens"))
        .orderBy(col("lang"), col("doc_id"))
    },

    // ---------------------------------------------------------------
    // p08 — quality-filter cascade with rejection accounting (the
    // C4/Gopher-style rule chain every corpus-cleaning run reports on):
    // each document gets the FIRST failing rule as its verdict —
    // too_short (<100 chars), too_long (>20k), mean word length outside
    // [2.5, 12], repetitive (unique-token ratio <0.3), else pass — and
    // the report aggregates docs/chars per (source, verdict). Shape at
    // 100 TB: one stateless projection (the cascade is a single codegen'd
    // CASE chain; tokenization happens once) into a partial-agg groupBy
    // over a few dozen groups — no join, no second pass, no skew.
    Q(
      "p08_quality_cascade",
      """WITH f AS (
        |  SELECT doc_id, source, n_chars,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents),
        |v AS (
        |  SELECT source, n_chars,
        |    CASE
        |      WHEN n_chars < 100 THEN 'r1_too_short'
        |      WHEN n_chars > 20000 THEN 'r2_too_long'
        |      WHEN (CAST(n_chars AS DOUBLE) - (len(ts) - 1)) / len(ts) < 2.5
        |        OR (CAST(n_chars AS DOUBLE) - (len(ts) - 1)) / len(ts) > 12.0
        |        THEN 'r3_word_len'
        |      WHEN CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) < 0.3
        |        THEN 'r4_repetitive'
        |      ELSE 'pass'
        |    END AS verdict
        |  FROM f)
        |SELECT source, verdict, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM v GROUP BY source, verdict
        |ORDER BY source, verdict""".stripMargin
    ) { (s, dir) =>
      val ts = DedupOps.words(col("text"))
      val nTok = size(ts).cast("double")
      // mean token length from char/token counts alone (t02's formula):
      // no per-token pass, single whitespace tokenization
      val meanLen = (col("n_chars").cast("double") - (size(ts) - 1)) / nTok
      val uniqRatio = size(array_distinct(ts)).cast("double") / nTok
      Tables(s, dir, "documents")
        .select(col("source"), col("n_chars"),
          when(col("n_chars") < 100, "r1_too_short")
            .when(col("n_chars") > 20000, "r2_too_long")
            .when(meanLen < 2.5 || meanLen > 12.0, "r3_word_len")
            .when(uniqRatio < 0.3, "r4_repetitive")
            .otherwise("pass").as("verdict"))
        .groupBy(col("source"), col("verdict"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("source"), col("verdict"))
    },

    // ---------------------------------------------------------------
    // p09 — deterministic epoch shuffle/sharding: every training epoch
    // re-deals the corpus into shards by a salted content-free hash —
    // md5(doc_id:epoch) — so data order decorrelates across epochs while
    // staying exactly reproducible. Shard = first hex nibble (16
    // shards); the report proves assignment determinism (min/max hash
    // per shard) and balance (docs/chars per shard) for two epochs.
    // Shape at 100 TB: one stateless projection per epoch (the epochs
    // explode is 2× metadata, never 2× text) into a 32-group partial
    // agg; the shard id IS the shuffle key a writer would
    // partitionBy — no global sort, no skew (md5 is uniform).
    Q(
      "p09_epoch_shard",
      """WITH e AS (SELECT unnest([1, 2]) AS epoch),
        |h AS (
        |  SELECT epoch,
        |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)) AS hk,
        |    n_chars
        |  FROM documents CROSS JOIN e)
        |SELECT epoch, substr(hk, 1, 1) AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(hk) AS first_hash, max(hk) AS last_hash
        |FROM h GROUP BY epoch, shard
        |ORDER BY epoch, shard""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          explode(typedLit(Seq(1, 2))).as("epoch"))
        .select(col("epoch"), col("n_chars"),
          md5(concat(col("doc_id").cast("string"), lit(":"),
            col("epoch").cast("string"))).as("hk"))
        .groupBy(col("epoch"), substring(col("hk"), 1, 1).as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          min(col("hk")).as("first_hash"), max(col("hk")).as("last_hash"))
        .orderBy(col("epoch"), col("shard"))
    },

    // ---------------------------------------------------------------
    // p10 — per-domain cap: keep the top-20 docs per source by quality
    // (ties to the lowest doc_id) — the per-domain document cap every
    // crawl-derived corpus applies so one domain cannot dominate the
    // mix. Written as the window-rank idiom so the GroupTopK rewrite
    // bounds the shuffle to k rows per (source, partition): at 100 TB
    // the full quality-scored corpus never sorts globally; only 20
    // rows per source per map partition reach the exchange.
    Q(
      "p10_domain_cap",
      """WITH f AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS ts,
        |    CAST(length(text) AS DOUBLE) AS n_chars
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, source,
        |    CAST(len(ts) AS BIGINT) AS n_tokens,
        |    CAST(((8 * (CAST(len(ts) AS BIGINT)
        |          - len(list_filter(ts, x -> x = 'a' OR x = 'the')))
        |        + 16 * len(list_distinct(ts))
        |        + least(CAST(n_chars AS BIGINT) - len(ts) + 1,
        |            8 * len(ts))) * 2000000
        |      + 32 * len(ts)) // (64 * len(ts)) AS DOUBLE)
        |      / 1000000.0 AS quality
        |  FROM f),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY quality DESC, doc_id ASC) AS rnk
        |  FROM scored)
        |SELECT source, doc_id, n_tokens, quality, rnk FROM ranked
        |WHERE rnk <= 20 ORDER BY source, rnk""".stripMargin
    ) { (s, dir) =>
      val scored = TextOps.qualityScore(
        Tables(s, dir, "documents"), "doc_id", "text",
        passthrough = Seq("source"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id").asc)
      scored
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 20)
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("quality"), col("rnk").cast("long").as("rnk"))
        .orderBy(col("source"), col("rnk"))
    },

    // ---------------------------------------------------------------
    // p11 — bloom-filter decontamination: p05's exact 13-gram eval-set
    // membership swapped for a fixed-size bloom bitset, the structure
    // that actually ships at 100 TB (the exact eval-gram set can be
    // billions of strings; the bitset is bounded — here 3 hash
    // functions into a 16^4-slot space, ≤65 536 occupied-slot keys, a
    // guaranteed-broadcastable semi-join side however large the eval
    // corpus grows). Slots are substr(md5(j ‖ ':' ‖ gram), 1, 4) for
    // j ∈ {0,1,2} — both engines flip identical bits, so the output
    // (true hits + deterministic false positives, bloom semantics) is
    // exactly reproducible. A doc's gram is "contaminated" iff all 3
    // of its slots are occupied; the query reports flagged-gram counts
    // per doc (the rejection-accounting shape of p08).
    Q(
      "p11_bloom_decontaminate",
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(CASE WHEN len(w) >= 13
        |    THEN list_transform(generate_series(1, len(w) - 12),
        |      i -> array_to_string(w[i:i+12], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END) AS g
        |  FROM ws),
        |ks AS (SELECT unnest([0, 1, 2]) AS j),
        |evalpos AS (
        |  SELECT DISTINCT substr(md5(CAST(j AS VARCHAR) || ':' || g), 1, 4) AS pos
        |  FROM grams CROSS JOIN ks WHERE doc_id % 7 = 0),
        |candpos AS (
        |  SELECT doc_id, g, j,
        |    substr(md5(CAST(j AS VARCHAR) || ':' || g), 1, 4) AS pos
        |  FROM (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 7 <> 0) cg
        |  CROSS JOIN ks),
        |hits AS (
        |  SELECT doc_id, g FROM candpos c JOIN evalpos e USING (pos)
        |  GROUP BY doc_id, g HAVING count(DISTINCT j) = 3)
        |SELECT doc_id, count(*) AS n_flagged_grams
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      def slot(j: Int, g: org.apache.spark.sql.Column) =
        substring(md5(concat(lit(s"$j:"), g)), 1, 4)
      // Par.fan: the broadcast-semi-join chain below is deliberately
      // zero-shuffle, which also means the WHOLE 13-gram explode +
      // 3×md5 pipeline ran inside the one-file scan's single task
      // (round-12 job profile: 1.1 s / 1 task); fan the raw docs first
      val grams = graft.operators.Par.fan(Tables(s, dir, "documents"))
        .withColumn("w", DedupOps.words(col("text")))
        .select(col("doc_id"),
          explode(DedupOps.shingles(col("w"), 13)).as("g"))
      val isEval = col("doc_id") % 7 === 0
      // the bitset: ≤16^4 distinct occupied slots, broadcast by size
      val evalPos = grams.filter(isEval)
        .select(explode(array((0 until 3).map(j => slot(j, col("g"))): _*))
          .as("pos"))
        .distinct()
      // Three chained broadcast semi-joins (one per hash function) flag
      // grams whose every slot is occupied — zero shuffles, and each
      // join prunes before the next hash is even computed. Only the
      // surviving (true-hit + bloom-false-positive) grams — a tiny
      // fraction of the corpus — reach the distinct/groupBy shuffles;
      // the naive shape (distinct ALL grams, shuffle on the 13-gram
      // string key) moves the whole corpus. Filter-then-distinct is
      // exactly distinct-then-filter for a per-row predicate, so the
      // oracle's DISTINCT-first rendering matches.
      val flagged = (0 until 3).foldLeft(grams.filter(!isEval)) { (df, j) =>
        df.withColumn("pos", slot(j, col("g")))
          .join(broadcast(evalPos), Seq("pos"), "left_semi")
          .drop("pos")
      }
      flagged.distinct()
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_flagged_grams"))
        .orderBy(col("doc_id"))
    },

    // ---------------------------------------------------------------
    // p12 — QUALITY-aware canonical selection (the RefinedWeb/Dolma
    // keep-policy): after clustering duplicates (p04's 3-round
    // group-min labels over the planted dup corpus), keep the BEST
    // document per cluster by the t02 quality score — not the lowest
    // id. min-id (d06/p04) is the cheap deterministic policy; real
    // pipelines keep the highest-quality copy (ties to the lowest id)
    // because exact/near copies differ in truncation and boilerplate.
    // Shape at 100 TB: the labeling is p04's (group-min windows, no
    // pair materialization), the score is one stateless projection,
    // and the per-cluster argmax runs through GroupTopK — k=1 rows per
    // (cluster, partition) reach the exchange; the n_docs aggregate
    // rides the same cluster key.
    Q(
      "p12_quality_canonical",
      s"""WITH ${DedupQueries.corpusSql},
        |dup AS (
        |  SELECT doc_id, text FROM corpus
        |  UNION ALL
        |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 10 = 0),
        |nodes AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_filter(string_split(text, ' '), x -> x <> ''), ' ')) AS k1,
        |    list_min(list_transform(generate_series(1, length(text) - 7),
        |      i -> md5(substr(text, i, 8)))) AS k2,
        |    doc_id AS lab
        |  FROM dup),
        |i1 AS (SELECT doc_id, k1, k2, least(
        |    min(lab) OVER (PARTITION BY k1),
        |    min(lab) OVER (PARTITION BY k2)) AS lab FROM nodes),
        |i2 AS (SELECT doc_id, k1, k2, least(
        |    min(lab) OVER (PARTITION BY k1),
        |    min(lab) OVER (PARTITION BY k2)) AS lab FROM i1),
        |i3 AS (SELECT doc_id, k1, k2, least(
        |    min(lab) OVER (PARTITION BY k1),
        |    min(lab) OVER (PARTITION BY k2)) AS lab FROM i2),
        |q AS (
        |  SELECT doc_id,
        |    CAST(((8 * (CAST(len(ts) AS BIGINT)
        |          - len(list_filter(ts, x -> x = 'a' OR x = 'the')))
        |        + 16 * len(list_distinct(ts))
        |        + least(CAST(n_chars AS BIGINT) - len(ts) + 1,
        |            8 * len(ts))) * 2000000
        |      + 32 * len(ts)) // (64 * len(ts)) AS DOUBLE)
        |      / 1000000.0 AS quality
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(text, ' '), x -> x <> '') AS ts,
        |          CAST(length(text) AS DOUBLE) AS n_chars
        |        FROM dup) f),
        |ranked AS (
        |  SELECT i3.lab AS cluster_id, i3.doc_id, q.quality,
        |    row_number() OVER (PARTITION BY i3.lab
        |      ORDER BY q.quality DESC, i3.doc_id ASC) AS rn
        |  FROM i3 JOIN q ON q.doc_id = i3.doc_id)
        |SELECT r.cluster_id, n.n_docs, r.doc_id AS canonical_id,
        |  r.quality AS canonical_quality
        |FROM ranked r
        |JOIN (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
        |      FROM ranked GROUP BY cluster_id) n
        |  ON n.cluster_id = r.cluster_id
        |WHERE rn = 1 ORDER BY r.cluster_id""".stripMargin
    ) { (s, dir) =>
      val (dup, labeled) = labeledDupCorpus(s, dir)
      val q = TextOps.qualityScore(dup, "doc_id", "text")
        .select(col("doc_id"), col("quality"))
      val scored = labeled.select(col("doc_id"), col("lab").as("cluster_id"))
        .join(q, Seq("doc_id"))
      val winner = graft.plans.GroupTopK.topK(scored,
        Seq(col("cluster_id")), 1, col("quality").desc, col("doc_id").asc)
      val sizes = scored.groupBy(col("cluster_id"))
        .agg(count(lit(1)).cast("long").as("n_docs"))
      winner.join(sizes, Seq("cluster_id"))
        .select(col("cluster_id"), col("n_docs"),
          col("doc_id").as("canonical_id"),
          col("quality").as("canonical_quality"))
        .orderBy(col("cluster_id"))
    },

    // ---------------------------------------------------------------
    // p13 — GRADED n-gram contamination (the GPT-3/Llama appendix-C
    // method): where p05 answers "does this doc share ANY 13-gram with
    // the eval set" (binary) and p11 answers it approximately through a
    // bloom filter, p13 reports the contamination FRACTION — what share
    // of a doc's 13-grams appear in the eval set — and buckets docs
    // clean / partial / dirty (>= 80% hit). The distinction matters:
    // binary decontamination throws away a long doc that quotes one
    // eval line; graded contamination keeps it and drops only
    // mostly-contaminated docs. The fixture plants genuinely-partial
    // docs (clean-doc head + 20-word eval-doc tail at id+300000) so all
    // three buckets are non-empty (sf0.01: 448/66/17). Determinism:
    // bucket thresholds compare integers (10*hits >= 8*grams); grams
    // travel as md5 (the shared hash primitive). Shape at 100 TB: the
    // eval gram set is joined with a LEFT SEMI equi-join on the gram
    // hash — sort-merge-able, NOT assumed broadcastable (p11's bloom is
    // the broadcast variant; this is the exact complement) — and both
    // per-doc reduces are partial-agg'd on doc_id. Sub-13-word docs
    // keep an n_grams=0/NULL-fraction accounting row (d09's lesson).
    Q(
      "p13_contamination_fraction",
      s"""WITH ${DedupQueries.corpusSql},
        |mixed AS (
        |  SELECT e.doc_id + 300000 AS doc_id,
        |    array_to_string(list_concat(
        |      cl.cw[1:CAST(ceil(len(cl.cw) / 2.0) AS BIGINT)],
        |      e.ew[len(e.ew) - 19:len(e.ew)]), ' ') AS text
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ew
        |        FROM documents WHERE doc_id % 7 = 0
        |          AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 20) e
        |  JOIN (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS cw
        |        FROM documents) cl
        |    ON cl.doc_id = e.doc_id + 1),
        |full_corpus AS (
        |  SELECT doc_id, text FROM corpus
        |  UNION ALL SELECT doc_id, text FROM mixed),
        |ws AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |       FROM full_corpus),
        |grams AS (
        |  SELECT doc_id, unnest(CASE WHEN len(w) >= 13
        |    THEN list_transform(generate_series(1, len(w) - 12),
        |      i -> md5(array_to_string(w[i:i+12], ' ')))
        |    ELSE CAST([] AS VARCHAR[]) END) AS g
        |  FROM ws),
        |evalg AS (SELECT DISTINCT g FROM grams
        |          WHERE doc_id % 7 = 0 AND doc_id < 100000),
        |hits AS (
        |  SELECT doc_id, count(*) AS n_hit FROM grams
        |  WHERE NOT (doc_id % 7 = 0 AND doc_id < 100000)
        |    AND g IN (SELECT g FROM evalg)
        |  GROUP BY doc_id)
        |SELECT w.doc_id,
        |  CAST(greatest(len(w.w) - 12, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_contaminated,
        |  CASE WHEN len(w.w) > 12
        |    THEN round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / (len(w.w) - 12), 6)
        |    END AS contamination,
        |  CASE WHEN coalesce(h.n_hit, 0) = 0 THEN 'clean'
        |    WHEN 10 * h.n_hit >= 8 * (len(w.w) - 12) THEN 'dirty'
        |    ELSE 'partial' END AS status
        |FROM ws w LEFT JOIN hits h ON w.doc_id = h.doc_id
        |WHERE NOT (w.doc_id % 7 = 0 AND w.doc_id < 100000)
        |ORDER BY w.doc_id""".stripMargin
    ) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val evalDocs = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("eid"), DedupOps.words(col("text")).as("ew"))
        .filter(size(col("ew")) >= 20)
      val cleanDocs = docs
        .select(col("doc_id").as("cid"), DedupOps.words(col("text")).as("cw"))
      val mixed = evalDocs
        .join(cleanDocs, col("cid") === col("eid") + 1)
        .select(graft.Q.plantedId(col("eid"), 300000).as("doc_id"),
          concat_ws(" ",
            slice(col("cw"), lit(1), ceil(size(col("cw")) / 2.0).cast("int")),
            slice(col("ew"), size(col("ew")) - 19, lit(20))).as("text"))
      val corpus = DedupQueries.corpusWithNearDups(docs).unionByName(mixed)
      val ws = corpus
        .select(col("doc_id"), DedupOps.words(col("text")).as("w"))
      // materialize the shingle array before the md5 lambda (no CSE
      // across HOF lambda bodies), hash before the explode so only the
      // 32-hex key travels through the joins
      val grams = ws.withColumn("sh", DedupOps.shingles(col("w"), 13))
        .select(col("doc_id"),
          explode(transform(col("sh"), g => md5(g))).as("g"))
      val isEval = col("doc_id") % 7 === 0 && col("doc_id") < 100000
      val evalG = grams.filter(isEval).select(col("g")).distinct()
      val hits = grams.filter(!isEval)
        .join(evalG, Seq("g"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      val tot = ws.filter(!isEval)
        .select(col("doc_id"),
          greatest(size(col("w")) - 12, lit(0)).cast("long").as("n_grams"))
      tot.join(hits, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_hit"), lit(0L)).cast("long").as("n_contaminated"),
          when(col("n_grams") > 0,
            round(coalesce(col("n_hit"), lit(0L)).cast("double")
              / col("n_grams"), 6)).as("contamination"),
          when(coalesce(col("n_hit"), lit(0L)) === 0, lit("clean"))
            .when(lit(10) * col("n_hit") >= lit(8) * col("n_grams"),
              lit("dirty"))
            .otherwise(lit("partial")).as("status"))
        .orderBy(col("doc_id"))
    },

    // ---------------------------------------------------------------
    // p14 — canonical-URL dedup, the FIRST dedup a web crawl runs
    // (before any content hashing): normalize each doc's URL and group
    // by the canonical form. Policy (the standard crawl-frontier set):
    // lowercase scheme+host, strip a leading 'www.', strip the
    // scheme's default port (:80/:443) but KEEP explicit non-default
    // ports, collapse duplicate path slashes, strip the trailing
    // slash, drop tracker params (utm_*, fbclid, gclid), sort the
    // surviving query params, drop the fragment. The fixture has no
    // URL column, so — t05's injection pattern — URLs are built
    // deterministically from doc_id with every mess keyed by moduli
    // (case soup %2, default port %3, explicit :8080 %7, duplicate
    // slashes %5, trailing slash %4, fragment %6), and %9 docs get a
    // planted variant (id+400000) that differs in EVERY raw dimension
    // but canonicalizes identically — except when the base carries
    // :8080 (%63): different port = different resource, the planted
    // default-port URL correctly lands in its own group. Natural
    // collisions (canon is f(doc_id mod 350)) give groups > 2 at
    // sf0.01+. Shape at 100 TB: one stateless projection (parse +
    // normalize are regexes, no UDF), ONE hash exchange on the
    // canonical key for the group window — the minimum any dedup can
    // do; the scan prunes to doc_id alone.
    Q(
      "p14_url_canonicalize",
      """WITH ids AS (SELECT doc_id FROM documents),
        |corpus AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) ||
        |    '://www.Site' || (doc_id % 25) || '.Example.COM' ||
        |    (CASE WHEN doc_id % 7 = 0 THEN ':8080'
        |          WHEN doc_id % 3 = 0 THEN
        |            (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
        |          ELSE '' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN '/a//b'
        |          ELSE '/p' || (doc_id % 10) END) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&b=2&a=1'
        |          ELSE '?a=1&fbclid=zz&b=2' END) ||
        |    (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id + 400000,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'Http' ELSE 'HTTPS' END) ||
        |    '://wWw.SITE' || (doc_id % 25) || '.example.com' ||
        |    (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN '/a////b' ELSE '//p' || (doc_id % 10) END) ||
        |    '/' || '?b=2&utm_medium=y&a=1' || '#x' AS url
        |  FROM ids WHERE doc_id % 9 = 0),
        |parsed AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) AS scheme,
        |    regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1) AS hostport,
        |    regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1) AS path0,
        |    regexp_extract(url, '\?([^#]*)', 1) AS query
        |  FROM corpus),
        |norm AS (
        |  SELECT doc_id, url, scheme,
        |    regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$', '')),
        |      '^www\.', '') AS host,
        |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        |    regexp_replace(regexp_replace(path0, '/{2,}', '/', 'g'), '/$', '')
        |      AS path,
        |    list_sort(list_filter(string_split(query, '&'),
        |      p -> p <> '' AND NOT regexp_matches(p,
        |        '^(utm_[a-z]+|fbclid|gclid)='))) AS kept
        |  FROM parsed),
        |canon AS (
        |  SELECT doc_id, url,
        |    scheme || '://' || host ||
        |    (CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
        |          OR (scheme = 'https' AND port = '443'))
        |      THEN ':' || port ELSE '' END) ||
        |    path ||
        |    (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
        |      ELSE '' END) AS canon_url
        |  FROM norm)
        |SELECT doc_id, url, canon_url,
        |  CAST(count(*) OVER (PARTITION BY canon_url) AS BIGINT) AS group_n,
        |  doc_id = min(doc_id) OVER (PARTITION BY canon_url) AS keep
        |FROM canon ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val ids = Tables(s, dir, "documents").select(col("doc_id"))
      val idS = (m: Int) => (col("doc_id") % m).cast("string")
      val baseUrl = concat(
        when(col("doc_id") % 2 === 0, lit("HTTP")).otherwise(lit("https")),
        lit("://www.Site"), idS(25), lit(".Example.COM"),
        when(col("doc_id") % 7 === 0, lit(":8080"))
          .when(col("doc_id") % 3 === 0,
            when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit(":443")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("/a//b"))
          .otherwise(concat(lit("/p"), idS(10))),
        when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0, lit("?utm_source=x&b=2&a=1"))
          .otherwise(lit("?a=1&fbclid=zz&b=2")),
        when(col("doc_id") % 6 === 0, lit("#frag")).otherwise(lit("")))
      val plantUrl = concat(
        when(col("doc_id") % 2 === 0, lit("Http")).otherwise(lit("HTTPS")),
        lit("://wWw.SITE"), idS(25), lit(".example.com"),
        when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit(":443")),
        when(col("doc_id") % 5 === 0, lit("/a////b"))
          .otherwise(concat(lit("//p"), idS(10))),
        lit("/?b=2&utm_medium=y&a=1#x"))
      val corpus = ids.select(col("doc_id"), baseUrl.as("url"))
        .unionByName(ids.filter(col("doc_id") % 9 === 0)
          .select(graft.Q.plantedId(col("doc_id"), 400000).as("doc_id"),
            plantUrl.as("url")))
      val canon = corpus.select(col("doc_id"), col("url"),
        graft.operators.UrlOps.canonicalize(col("url")).as("canon_url"))
      val w = Window.partitionBy(col("canon_url"))
      canon.select(col("doc_id"), col("url"), col("canon_url"),
          count(lit(1)).over(w).cast("long").as("group_n"),
          (col("doc_id") === min(col("doc_id")).over(w)).as("keep"))
        .orderBy(col("doc_id"))
    },

    // ---------------------------------------------------------------
    // p15 — deterministic stratified train/val/test split (80/10/10):
    // the LAST step before a corpus ships to training. Assignment is a
    // pure function of (source, doc_id) — md5-hex compared against the
    // fraction thresholds (0.8·16⁸ = cccccccc…, 0.9·16⁸ = e6666666…),
    // p02's seedless-coin idiom — so ANY engine reproduces the split,
    // re-runs are stable, and adding documents never reassigns
    // existing ones (the property random-permutation splits lack).
    // Salting the hash with `source` makes the split stratified: each
    // source is partitioned by its own independent coin, so no source
    // can land lopsided by hash correlation with doc_id ranges.
    // Per-(source, split) counts ride along as a window so the
    // stratification is auditable in the output itself. Shape at
    // 100 TB: assignment is a stateless projection (usable as a
    // partition column at write time); only the audit window shuffles
    // — on (source, split), a key space of |sources|·3.
    Q(
      "p15_train_split",
      """WITH assigned AS (
        |  SELECT doc_id, source,
        |    CASE WHEN md5(source || ':' || CAST(doc_id AS VARCHAR))
        |             < 'cccccccccccccccccccccccccccccccc' THEN 'train'
        |         WHEN md5(source || ':' || CAST(doc_id AS VARCHAR))
        |             < 'e6666666666666666666666666666666' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT doc_id, source, split,
        |  CAST(count(*) OVER (PARTITION BY source, split) AS BIGINT)
        |    AS split_n_in_source
        |FROM assigned ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val coin = md5(concat(col("source"), lit(":"),
        col("doc_id").cast("string")))
      val assigned = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          when(coin < "c" * 32, lit("train"))
            .when(coin < "e" + "6" * 31, lit("val"))
            .otherwise(lit("test")).as("split"))
      assigned.select(col("doc_id"), col("source"), col("split"),
          count(lit(1)).over(Window.partitionBy(col("source"), col("split")))
            .cast("long").as("split_n_in_source"))
        .orderBy(col("doc_id"))
    },

    // ---------------------------------------------------------------
    // p16 — temperature-weighted source mixing (the T5/Llama α-mixing
    // that p02's fixed-rate coin cannot express): domain d's sampling
    // quota is N_target · c_d^α / Σ c^α with α = 0.5, so rare domains
    // are UPWEIGHTED relative to proportional sampling — the standard
    // move against head-domain dominance. The fixture's sources are
    // deliberately uniform, so the mixing key is a derived domain with
    // skewed counts by construction (floor(sqrt(doc_id % 100)):
    // populations 1..19 per 100 ids). Determinism where engines
    // usually diverge: the cross-domain Σ√c is an ORDERED left fold
    // over the domain-sorted weight list (Spark `aggregate` over
    // array_sort'd collect_list ≙ DuckDB list_reduce over
    // list(ORDER BY) — same adds, same order, bit-identical S);
    // quotas floor to integers; membership is the md5-ranked prefix
    // (p03's seedless shuffle). Every doc keeps an accounting row
    // with its rank and quota. Shape at 100 TB: the domain table is
    // tiny (one partial-agg'd shuffle), S is a 1-row broadcast
    // scalar, ranking is one window per domain — the corpus shuffles
    // ONCE on the mixing key.
    Q(
      "p16_temperature_mix",
      """WITH corpus AS (
        |  SELECT doc_id,
        |    'd' || CAST(CAST(floor(sqrt(CAST(doc_id % 100 AS DOUBLE))) AS INT)
        |      AS VARCHAR) AS domain
        |  FROM documents),
        |doms AS (SELECT domain, count(*) AS c FROM corpus GROUP BY domain),
        |tot AS (
        |  SELECT CAST(list_reduce(list(CAST(sqrt(CAST(c AS DOUBLE)) AS DOUBLE)
        |      ORDER BY domain), (a, b) -> a + b) AS DOUBLE) AS s,
        |    sum(c) AS n_total
        |  FROM doms),
        |quota AS (
        |  SELECT domain, c,
        |    CAST(floor(((n_total // 2) * sqrt(CAST(c AS DOUBLE))) / s)
        |      AS BIGINT) AS k
        |  FROM doms, tot),
        |ranked AS (
        |  SELECT co.doc_id, co.domain, q.c, q.k,
        |    row_number() OVER (PARTITION BY co.domain
        |      ORDER BY md5(CAST(co.doc_id AS VARCHAR)), co.doc_id) AS rn
        |  FROM corpus co JOIN quota q ON co.domain = q.domain)
        |SELECT doc_id, domain, CAST(c AS BIGINT) AS domain_n,
        |  k AS domain_quota, CAST(rn AS BIGINT) AS rn, rn <= k AS kept
        |FROM ranked ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val corpus = Tables(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("d"), floor(sqrt((col("doc_id") % 100).cast("double")))
            .cast("int").cast("string")).as("domain"))
      val doms = corpus.groupBy(col("domain")).agg(count(lit(1)).as("c"))
      // ordered fold of the domain weights: collect_list's order is
      // nondeterministic, so sort by domain FIRST, then left-fold —
      // the same adds in the same order as the oracle's list_reduce
      val tot = doms.agg(
        aggregate(
          array_sort(collect_list(struct(col("domain"),
            sqrt(col("c").cast("double")).as("sq")))),
          lit(0.0), (acc, x) => acc + x.getField("sq")).as("s"),
        sum(col("c")).as("n_total"))
      val quota = doms.crossJoin(broadcast(tot))
        .select(col("domain"), col("c"),
          floor((expr("n_total DIV 2") * sqrt(col("c").cast("double")))
            / col("s")).cast("long").as("k"))
      val ranked = corpus.join(quota, Seq("domain"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("domain"))
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      ranked.select(col("doc_id"), col("domain"),
          col("c").cast("long").as("domain_n"),
          col("k").as("domain_quota"), col("rn").cast("long").as("rn"),
          (col("rn") <= col("k")).as("kept"))
        .orderBy(col("doc_id"))
    },

    // ---------------------------------------------------------------
    // p17 — the composed pipeline (dedup → rule gate → split) in ONE
    // plan: exact-dedup canonical selection (d01's min-id-per-md5),
    // then the Gopher word-count gate (t10 rule 1), then the
    // stratified split coin (p15) — every doc keeps an accounting row
    // whose `outcome` says where it left the pipeline ('dup',
    // 'short') or where it landed ('train'/'val'/'test'). The point
    // is COMPOSITION: three pipeline stages fuse into one hash
    // exchange (the md5 dedup window) + stateless projections —
    // Catalyst plans the chain exactly as tight as the tightest
    // single stage, which is what makes staging a 100 TB corpus
    // through k rules affordable (PlanSpec pins the single exchange).
    // Exact copies are planted (%10, id+600000, verbatim text) so the
    // dedup stage genuinely fires.
    Q(
      "p17_full_pipeline",
      """WITH corpus AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 600000, source, text FROM documents
        |  WHERE doc_id % 10 = 0),
        |keep AS (
        |  SELECT doc_id, source, text,
        |    doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canon
        |  FROM corpus)
        |SELECT doc_id, source,
        |  CASE WHEN NOT is_canon THEN 'dup'
        |    WHEN len(list_filter(string_split(text, ' '), x -> x <> ''))
        |      NOT BETWEEN 50 AND 100000 THEN 'short'
        |    WHEN md5(source || ':' || CAST(doc_id AS VARCHAR))
        |        < 'cccccccccccccccccccccccccccccccc' THEN 'train'
        |    WHEN md5(source || ':' || CAST(doc_id AS VARCHAR))
        |        < 'e6666666666666666666666666666666' THEN 'val'
        |    ELSE 'test' END AS outcome
        |FROM keep ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 10 === 0)
          .select(graft.Q.plantedId(col("doc_id"), 600000).as("doc_id"),
            col("source"), col("text")))
      val isCanon = col("doc_id") ===
        min(col("doc_id")).over(Window.partitionBy(md5(col("text"))))
      val nw = size(DedupOps.words(col("text")))
      val coin = md5(concat(col("source"), lit(":"),
        col("doc_id").cast("string")))
      corpus.select(col("doc_id"), col("source"), col("text"),
          isCanon.as("is_canon"))
        .select(col("doc_id"), col("source"),
          when(!col("is_canon"), lit("dup"))
            .when(nw < 50 || nw > 100000, lit("short"))
            .when(coin < "c" * 32, lit("train"))
            .when(coin < "e" + "6" * 31, lit("val"))
            .otherwise(lit("test")).as("outcome"))
        .orderBy(col("doc_id"))
    },

    // ---------------------------------------------------------------
    // p18 — weighted sampling without replacement (Efraimidis–Spirakis
    // A-Res): each doc draws a deterministic uniform u from md5(doc_id)
    // and competes on key = ln(u)/w with w = its token count, so longer
    // docs are proportionally likelier to make the n=200 sample — the
    // one-pass distributed form of weighted reservoir sampling.
    // Determinism where engines usually diverge: u is a Horner fold of
    // the first 13 md5 hex digits (digit values via ascii arithmetic —
    // every partial sum is an exact integer-valued double < 2^53, so
    // the fold is bit-identical regardless of engine); ln is the one
    // libm call (1-ulp parity risk accepted contract-wide; the emitted
    // key is round(,6) — a transcendental output never lands on a
    // decimal boundary). Shape at 100 TB: keying is a stateless
    // projection; selection is a global top-k — Spark plans
    // TakeOrderedAndProject (per-partition 200-row heaps, only k rows
    // per partition reach the driver-side merge; never a full sort).
    Q(
      "p18_weighted_sample",
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
        |      AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, n_tokens,
        |    ln((list_reduce(list_transform(range(1, 14), i ->
        |          CAST(ascii(substr(h, CAST(i AS INTEGER), 1)) AS DOUBLE)
        |          - CASE WHEN ascii(substr(h, CAST(i AS INTEGER), 1)) >= 97
        |                 THEN 87.0 ELSE 48.0 END),
        |        (a, b) -> a * 16.0 + b) + 1.0) / 4503599627370497.0)
        |      / CAST(n_tokens AS DOUBLE) AS key
        |  FROM d),
        |top AS (SELECT doc_id, n_tokens, key FROM k
        |        ORDER BY key DESC, doc_id LIMIT 200)
        |SELECT doc_id, n_tokens, round(key, 6) AS sample_key
        |FROM top ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      // Horner fold of 13 hex digits → exact integer-valued double in
      // [0, 2^52); +1 / (2^52+1) maps to u ∈ (0, 1]. The fold seeds at
      // 0.0 here and at the first digit in DuckDB's list_reduce — both
      // compute ((d1·16+d2)·16+…), the same exact value.
      val uNum = expr(
        """aggregate(
          |  transform(sequence(1, 13), i ->
          |    ascii(substring(h, i, 1)) -
          |    CASE WHEN ascii(substring(h, i, 1)) >= 97
          |         THEN 87.0D ELSE 48.0D END),
          |  CAST(0.0 AS DOUBLE), (a, d) -> a * 16.0D + d)""".stripMargin)
      val keyed = Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(DedupOps.words(col("text"))).cast("long").as("n_tokens"),
          md5(col("doc_id").cast("string")).as("h"))
        .withColumn("key",
          log((uNum + 1.0) / 4503599627370497.0) /
            col("n_tokens").cast("double"))
      keyed.orderBy(col("key").desc, col("doc_id")).limit(200)
        .select(col("doc_id"), col("n_tokens"),
          round(col("key"), 6).as("sample_key"))
        .orderBy(col("doc_id"))
    },

    // ---------------------------------------------------------------
    // p19 — PER-SOURCE weighted sampling (stratified A-Res): p18's
    // Efraimidis–Spirakis keys raced within each source for a 50-doc
    // quota — the per-domain form real mixing pipelines run (every
    // domain keeps its own weighted sample regardless of corpus
    // skew). Same deterministic u (Horner fold of md5 hex digits;
    // seeded by source||doc_id so strata draw independent coins) and
    // the same ln/round(,6) contract. Shape at 100 TB: selection is
    // GroupTopK — per-partition 50-row heaps per source, so only
    // k·|sources| rows per partition reach the exchange, never the
    // scored corpus (the q26/p10 operator, now with weighted keys).
    Q(
      "p19_stratified_weighted",
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
        |      AS BIGINT) AS n_tokens,
        |    md5(source || ':' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, source, n_tokens,
        |    ln((list_reduce(list_transform(range(1, 14), i ->
        |          CAST(ascii(substr(h, CAST(i AS INTEGER), 1)) AS DOUBLE)
        |          - CASE WHEN ascii(substr(h, CAST(i AS INTEGER), 1)) >= 97
        |                 THEN 87.0 ELSE 48.0 END),
        |        (a, b) -> a * 16.0 + b) + 1.0) / 4503599627370497.0)
        |      / CAST(n_tokens AS DOUBLE) AS key
        |  FROM d),
        |r AS (
        |  SELECT doc_id, source, n_tokens, key,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY key DESC, doc_id ASC) AS rank
        |  FROM k)
        |SELECT doc_id, source, n_tokens,
        |  CAST(rank AS BIGINT) AS rank, round(key, 6) AS sample_key
        |FROM r WHERE rank <= 50
        |ORDER BY source, rank""".stripMargin
    ) { (s, dir) =>
      val uNum = expr(
        """aggregate(
          |  transform(sequence(1, 13), i ->
          |    ascii(substring(h, i, 1)) -
          |    CASE WHEN ascii(substring(h, i, 1)) >= 97
          |         THEN 87.0D ELSE 48.0D END),
          |  CAST(0.0 AS DOUBLE), (a, d) -> a * 16.0D + d)""".stripMargin)
      val keyed = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(DedupOps.words(col("text"))).cast("long").as("n_tokens"),
          md5(concat(col("source"), lit(":"),
            col("doc_id").cast("string"))).as("h"))
        .withColumn("key",
          log((uNum + 1.0) / 4503599627370497.0) /
            col("n_tokens").cast("double"))
      graft.plans.GroupTopK.topKRanked(keyed, Seq(col("source")), 50, "rank",
          col("key").desc, col("doc_id").asc)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("rank").cast("long").as("rank"),
          round(col("key"), 6).as("sample_key"))
        .orderBy(col("source"), col("rank"))
    },

    // ---------------------------------------------------------------
    // p20 — packed-sequence LAYOUT (the trainer-facing complement of
    // p01's bin stats): per doc, its position in the packed token
    // stream — bin, offset within the bin, its ordinal among the
    // bin's docs (where loss-mask boundaries go), and how many of its
    // tokens spill past the bin edge (continuation into the next
    // sequence). This is the metadata a dataloader needs to build
    // attention masks over packed sequences without re-tokenizing.
    // All columns derive from ONE running sum over the same
    // (source, doc order) window as p01 — a single exchange by
    // source, then pure integer arithmetic (floor/mod/greatest on
    // bigints — identical in both engines).
    Q(
      "p20_packing_layout",
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |laid AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
        |      AS BIGINT) AS tok_start
        |  FROM toks)
        |SELECT source, doc_id, n_tokens,
        |  tok_start // 2048 AS bin_id,
        |  tok_start % 2048 AS bin_offset,
        |  CAST(row_number() OVER (PARTITION BY source, tok_start // 2048
        |    ORDER BY doc_id) AS BIGINT) AS seg_in_bin,
        |  greatest(0, tok_start % 2048 + n_tokens - 2048) AS spill_tokens
        |FROM laid ORDER BY source, doc_id""".stripMargin
    ) { (s, dir) =>
      val toks = Tables(s, dir, "documents").select(
        col("doc_id"), col("source"),
        size(DedupOps.words(col("text"))).cast("long").as("n_tokens"))
      val run = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val laid = toks.withColumn("tok_start",
        sum(col("n_tokens")).over(run) - col("n_tokens"))
      val binId = expr("tok_start DIV 2048")
      laid.select(col("source"), col("doc_id"), col("n_tokens"),
          binId.as("bin_id"),
          (col("tok_start") % 2048).as("bin_offset"),
          row_number().over(Window.partitionBy(col("source"), binId)
            .orderBy(col("doc_id"))).cast("long").as("seg_in_bin"),
          greatest(lit(0L),
            col("tok_start") % 2048 + col("n_tokens") - 2048)
            .as("spill_tokens"))
        .orderBy(col("source"), col("doc_id"))
    },

    // ---------------------------------------------------------------
    // p21 — dataset card: the per-source scorecard corpus curation
    // publishes (doc/token counts, English share, mean length, and
    // language-mix Shannon entropy). Entropy is the one cross-engine
    // hazard — Σ p·ln p over the language mix — so it folds in LANG
    // ORDER over the per-(source, lang) counts (p16's ordered-fold
    // discipline: Spark aggregate over an array_sort'd collect_list ≙
    // DuckDB list_reduce over list(ORDER BY lang) — same adds, same
    // order), with the contract ln/round(,6). Shares are bigint/bigint
    // IEEE divisions, unrounded. Shape at 100 TB: one partial-agg'd
    // shuffle to (source, lang) — a key space of |sources|·|langs| —
    // then all card columns derive from that tiny table; the corpus is
    // scanned exactly once.
    Q(
      "p21_dataset_card",
      """WITH lc AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(len(list_filter(string_split(text, ' '),
        |      x -> x <> ''))) AS BIGINT) AS toks,
        |    CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents GROUP BY source, lang),
        |srcstats AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |    CAST(sum(toks) AS BIGINT) AS n_tokens,
        |    CAST(sum(chars) AS BIGINT) AS n_chars_total,
        |    CAST(sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT)
        |      AS n_en
        |  FROM lc GROUP BY source),
        |ent AS (
        |  SELECT l.source,
        |    round(-list_reduce(list(
        |        CAST(l.c AS DOUBLE) / s.n_docs
        |          * ln(CAST(l.c AS DOUBLE) / s.n_docs)
        |        ORDER BY l.lang), (a, b) -> a + b), 6) AS lang_entropy
        |  FROM lc l JOIN srcstats s ON l.source = s.source
        |  GROUP BY l.source, s.n_docs)
        |SELECT s.source, s.n_docs, s.n_tokens,
        |  CAST(s.n_en AS DOUBLE) / s.n_docs AS pct_en,
        |  CAST(s.n_chars_total AS DOUBLE) / s.n_docs AS mean_chars,
        |  e.lang_entropy
        |FROM srcstats s JOIN ent e ON s.source = e.source
        |ORDER BY s.source""".stripMargin
    ) { (s, dir) =>
      val lc = Tables(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).cast("long").as("c"),
          sum(size(DedupOps.words(col("text")))).cast("long").as("toks"),
          sum(col("n_chars")).cast("long").as("chars"))
      val srcstats = lc.groupBy(col("source"))
        .agg(sum(col("c")).cast("long").as("n_docs"),
          sum(col("toks")).cast("long").as("n_tokens"),
          sum(col("chars")).cast("long").as("n_chars_total"),
          sum(when(col("lang") === "en", col("c")).otherwise(0L))
            .cast("long").as("n_en"))
      val terms = lc.join(srcstats.select(col("source"), col("n_docs")),
          Seq("source"))
        .select(col("source"), col("lang"),
          (col("c").cast("double") / col("n_docs") *
            log(col("c").cast("double") / col("n_docs"))).as("term"))
      val ent = terms.groupBy(col("source"))
        .agg(round(-aggregate(
          array_sort(collect_list(struct(col("lang"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")), 6)
          .as("lang_entropy"))
      srcstats.join(ent, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (col("n_en").cast("double") / col("n_docs")).as("pct_en"),
          (col("n_chars_total").cast("double") / col("n_docs"))
            .as("mean_chars"),
          col("lang_entropy"))
        .orderBy(col("source"))
    },

    // ---------------------------------------------------------------
    // p22 — token-budget quality fill: each source spends a 5 000-token
    // budget on its best documents first (quality = lexical diversity,
    // distinct words over words — the t06 repetition signal inverted),
    // admitting docs in quality order until the budget is exhausted —
    // budget-constrained selection, the knapsack-greedy complement to
    // p19's count quotas. A doc is admitted iff the tokens spent
    // BEFORE it are under budget (so the boundary doc may overshoot —
    // the deterministic convention, stated rather than implied). Every
    // doc keeps an accounting row. Determinism: quality is an int/int
    // IEEE division ordered with a doc_id tie-break; the running
    // spend is an exact integer window sum. Shape at 100 TB: ONE
    // shuffle on source serves the quality sort and the running sum
    // (same window), everything else is stateless.
    Q(
      "p22_budget_fill",
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
        |      AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(list_filter(string_split(text, ' '),
        |      x -> x <> ''))) AS BIGINT) AS n_distinct
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(n_distinct AS DOUBLE) / n_tokens AS quality
        |  FROM d),
        |spent AS (
        |  SELECT doc_id, source, n_tokens, quality,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
        |      AS BIGINT) AS tokens_before
        |  FROM scored)
        |SELECT doc_id, source, n_tokens, quality, tokens_before,
        |  tokens_before < 5000 AS kept
        |FROM spent ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val ws = DedupOps.words(col("text"))
      val scored = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(ws).cast("long").as("n_tokens"),
          size(array_distinct(ws)).cast("long").as("n_distinct"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          (col("n_distinct").cast("double") / col("n_tokens")).as("quality"))
      val fill = Window.partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scored
        .withColumn("tokens_before",
          (sum(col("n_tokens")).over(fill) - col("n_tokens")).cast("long"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("quality"), col("tokens_before"),
          (col("tokens_before") < 5000).as("kept"))
        .orderBy(col("doc_id"))
    },

    // ---------------------------------------------------------------
    // p23 — corpus snapshot diff: what changed between two dataset
    // versions, as a per-doc status (added / removed / changed /
    // unchanged) from ONE full-outer join on doc_id with md5 content
    // compare — the audit primitive behind dataset versioning (what
    // did the new crawl actually do). v2 is derived deterministically:
    // %9 docs get a token appended (changed), %10 docs disappear
    // (removed), and planted ids appear (added). null-safe equality is
    // NOT needed — both hashes are non-null on present rows and the
    // outer-null cases route by presence first. Shape at 100 TB: both
    // snapshots hash map-side (a stateless projection on each scan),
    // so the join carries (doc_id, md5) only — never the payloads —
    // and partitions on the id both sides already share at write time.
    Q(
      "p23_snapshot_diff",
      """WITH v1 AS (SELECT doc_id, md5(text) AS h FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 9 = 0 THEN text || ' appended'
        |             ELSE text END) AS h
        |  FROM documents WHERE doc_id % 10 <> 0
        |  UNION ALL
        |  SELECT doc_id + 800000, md5(text) FROM documents
        |  WHERE doc_id % 11 = 0),
        |j AS (
        |  SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |    v1.h AS h1, v2.h AS h2
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT doc_id,
        |  CASE WHEN h1 IS NULL THEN 'added'
        |       WHEN h2 IS NULL THEN 'removed'
        |       WHEN h1 <> h2 THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM j ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val v1 = docs.select(col("doc_id"), md5(col("text")).as("h1"))
      val v2 = docs.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 9 === 0, concat(col("text"),
            lit(" appended"))).otherwise(col("text"))).as("h2"))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select(Q.plantedId(col("doc_id"), 800000).as("doc_id"),
            md5(col("text")).as("h2")))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("h1").isNull, lit("added"))
            .when(col("h2").isNull, lit("removed"))
            .when(col("h1") =!= col("h2"), lit("changed"))
            .otherwise(lit("unchanged")).as("status"))
        .orderBy(col("doc_id"))
    },

    // ---------------------------------------------------------------
    // p24 — UniMax-style source mixing (Chung et al. 2023): spend a
    // global token budget (here total/2) across sources by WATER-
    // FILLING — small sources are taken whole, large sources are
    // capped at a common level, so no source is epoch-repeated past
    // its size and the budget never over-concentrates on the biggest
    // source (the failure mode of proportional sampling). All integer
    // arithmetic: sources sort ascending by size (name tie-break);
    // level_i = (B − prefix_{i−1}) DIV (k − i + 1); the FIRST source
    // whose size exceeds its level marks the cap, everything after it
    // gets that cap (up to k−1 tokens of budget stay unspent — the
    // integer-division convention, stated). Shape at 100 TB: the
    // corpus reduces to a SOURCES-sized table in one partial-agg'd
    // shuffle; the waterfill window runs over that handful of rows
    // (the unpartitioned window is over |sources|, not the corpus);
    // the apply step is p02's md5-coin filter against the broadcast
    // quota table.
    Q(
      "p24_unimax_mix",
      """WITH src AS (
        |  SELECT source,
        |    CAST(sum(len(list_filter(string_split(text, ' '),
        |      x -> x <> ''))) AS BIGINT) AS sz,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY source),
        |tot AS (
        |  SELECT CAST(sum(sz) // 2 AS BIGINT) AS b,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM src),
        |ord AS (
        |  SELECT source, sz, n_docs,
        |    CAST(row_number() OVER (ORDER BY sz, source) AS BIGINT) AS i,
        |    CAST(COALESCE(sum(sz) OVER (ORDER BY sz, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS pre
        |  FROM src),
        |lv AS (
        |  SELECT o.source, o.sz, o.n_docs, o.i,
        |    CAST((t.b - o.pre) // (t.k - o.i + 1) AS BIGINT) AS level
        |  FROM ord o CROSS JOIN tot t),
        |fu AS (
        |  SELECT COALESCE(min(i), 9223372036854775807) AS first_unsat
        |  FROM lv WHERE sz > level),
        |tq AS (
        |  SELECT COALESCE(min(level), 0) AS cap
        |  FROM lv CROSS JOIN fu WHERE i = first_unsat)
        |SELECT source, n_docs, sz AS n_tokens,
        |  CASE WHEN i < first_unsat THEN sz ELSE cap END AS quota,
        |  i < first_unsat AS taken_whole,
        |  round(CAST(CASE WHEN i < first_unsat THEN sz ELSE cap END
        |    AS DOUBLE) / sz, 6) AS fill_ratio
        |FROM lv CROSS JOIN fu CROSS JOIN tq
        |ORDER BY source""".stripMargin
    ) { (s, dir) =>
      val src = Tables(s, dir, "documents")
        .select(col("source"),
          size(DedupOps.words(col("text"))).cast("long").as("n_tok"))
        .groupBy(col("source"))
        .agg(sum(col("n_tok")).cast("long").as("sz"),
          count(lit(1)).cast("long").as("n_docs"))
      val tot = src.agg(
        expr("CAST(sum(sz) DIV 2 AS BIGINT)").as("b"),
        count(lit(1)).cast("long").as("k"))
      // unpartitioned window: runs over the SOURCES table (a handful
      // of rows after the reduce), never the corpus
      val bysize = Window.orderBy(col("sz"), col("source"))
      val ord = src.select(col("source"), col("sz"), col("n_docs"),
        row_number().over(bysize).cast("long").as("i"),
        coalesce(sum(col("sz")).over(
            bysize.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("pre"))
      val lv = ord.crossJoin(broadcast(tot))
        .withColumn("level", expr("CAST((b - pre) DIV (k - i + 1) AS BIGINT)"))
      val fu = lv.agg(coalesce(min(when(col("sz") > col("level"),
          col("i"))), lit(Long.MaxValue)).as("first_unsat"))
      val cap = lv.crossJoin(broadcast(fu))
        .filter(col("i") === col("first_unsat"))
        .agg(coalesce(min(col("level")), lit(0L)).as("cap"))
      val quota = when(col("i") < col("first_unsat"), col("sz"))
        .otherwise(col("cap"))
      lv.crossJoin(broadcast(fu)).crossJoin(broadcast(cap))
        .select(col("source"), col("n_docs"), col("sz").as("n_tokens"),
          quota.as("quota"),
          (col("i") < col("first_unsat")).as("taken_whole"),
          round(quota.cast("double") / col("sz"), 6).as("fill_ratio"))
        .orderBy(col("source"))
    },

    // ---------------------------------------------------------------
    // p25 — padding-waste report: bucket documents by the power-of-2
    // sequence length that would hold them, and account the padding a
    // length-bucketed batcher pays per bucket (capacity − real tokens)
    // — the report that decides bucket boundaries for a training
    // dataloader. The bucket comes from an ARRAY-LITERAL fold
    // (array_min over the filtered 2^0..2^20 list) — exact integers,
    // no float log2 whose x.9999/half-ulp edges the two engines could
    // round differently. Shape at 100 TB: one stateless projection
    // (the 21-element literal evaluates per row, no join, no
    // broadcast), then one partial-agg'd shuffle onto ≤21 bucket keys.
    Q(
      "p25_padding_waste",
      """WITH d AS (
        |  SELECT CAST(len(list_filter(string_split(text, ' '),
        |    x -> x <> '')) AS BIGINT) AS nt
        |  FROM documents),
        |b AS (
        |  SELECT nt, CAST(list_min(list_filter(
        |    [1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096,
        |     8192, 16384, 32768, 65536, 131072, 262144, 524288, 1048576],
        |    c -> c >= nt)) AS BIGINT) AS cap
        |  FROM d)
        |SELECT cap AS bucket_cap, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  CAST(cap * count(*) AS BIGINT) AS capacity,
        |  CAST(cap * count(*) - sum(nt) AS BIGINT) AS padding,
        |  round(1.0 - CAST(sum(nt) AS DOUBLE) / (cap * count(*)), 6)
        |    AS waste_ratio
        |FROM b GROUP BY cap ORDER BY cap""".stripMargin
    ) { (s, dir) =>
      val pows = (0 to 20).map(1L << _)
      val d = Tables(s, dir, "documents")
        .select(size(DedupOps.words(col("text"))).cast("long").as("nt"))
      val b = d.select(col("nt"),
        array_min(filter(array(pows.map(lit): _*),
          c => c >= col("nt"))).cast("long").as("cap"))
      b.groupBy(col("cap").as("bucket_cap"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("nt")).cast("long").as("n_tokens"))
        .select(col("bucket_cap"), col("n_docs"), col("n_tokens"),
          (col("bucket_cap") * col("n_docs")).cast("long").as("capacity"),
          (col("bucket_cap") * col("n_docs") - col("n_tokens"))
            .cast("long").as("padding"),
          round(lit(1.0) - col("n_tokens").cast("double")
            / (col("bucket_cap") * col("n_docs")), 6).as("waste_ratio"))
        .orderBy(col("bucket_cap"))
    },

    // ---------------------------------------------------------------
    // p26 — LEAKAGE-FREE train/test split: the md5 coin flips on the
    // near-dup CLUSTER id, not the document id, so every member of a
    // duplicate cluster lands on the same side — the split p15 cannot
    // give (a doc-keyed coin puts a train doc's near-copy in test,
    // and the eval set silently measures memorization). Clusters are
    // p04's 3-round group-min labels over the planted dup corpus
    // (exact + near + far copies). The oracle mirrors the labeling
    // AND the cluster-keyed coin; CorpusReportSpec's p26 test pins the
    // behavior the oracle can't distinguish from a doc-keyed coin
    // mirrored on both sides: multi-doc clusters exist and NONE spans
    // splits. Shape at 100 TB: labeling is p04's bounded-iteration
    // machinery; the coin and projection are stateless; one order-by
    // for presentation.
    Q(
      "p26_leakfree_split",
      s"""WITH ${DedupQueries.corpusSql},
        |dup AS (
        |  SELECT doc_id, text FROM corpus
        |  UNION ALL
        |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 10 = 0),
        |nodes AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_filter(string_split(text, ' '), x -> x <> ''), ' ')) AS k1,
        |    list_min(list_transform(generate_series(1, length(text) - 7),
        |      i -> md5(substr(text, i, 8)))) AS k2,
        |    doc_id AS lab
        |  FROM dup),
        |i1 AS (SELECT doc_id, k1, k2, least(
        |    min(lab) OVER (PARTITION BY k1),
        |    min(lab) OVER (PARTITION BY k2)) AS lab FROM nodes),
        |i2 AS (SELECT doc_id, k1, k2, least(
        |    min(lab) OVER (PARTITION BY k1),
        |    min(lab) OVER (PARTITION BY k2)) AS lab FROM i1),
        |i3 AS (SELECT doc_id, k1, k2, least(
        |    min(lab) OVER (PARTITION BY k1),
        |    min(lab) OVER (PARTITION BY k2)) AS lab FROM i2)
        |SELECT doc_id, lab AS cluster_id,
        |  CASE WHEN md5(CAST(lab AS VARCHAR))
        |           < 'cccccccccccccccccccccccccccccccc' THEN 'train'
        |       ELSE 'test' END AS split
        |FROM i3 ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val (_, labeled) = labeledDupCorpus(s, dir)
      labeled.select(col("doc_id"), col("lab").as("cluster_id"),
          when(md5(col("lab").cast("string")) < lit("c" * 32), "train")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    },

    // ---------------------------------------------------------------
    // p27 — data-constrained repeat schedule: when the token budget
    // exceeds the corpus (the data-constrained regime), small sources
    // are REPEATED before large ones, but never past an epoch cap
    // (repeating past ~4 epochs returns almost nothing — the
    // data-constrained-scaling observation). Contract: budget
    // B = 2 × total tokens; every source gets its base epoch; the
    // surplus (B − total) goes greedily to sources in (size ASC,
    // name) order — the smallest source is the cheapest to upsample
    // and the most valuable per token — each taking up to
    // (cap − 1) × size extra; the boundary source takes the remainder,
    // later sources take none. p24 is the single-epoch quota
    // (downsampling) face of mixing; this is the multi-epoch repeat
    // (upsampling) face. All integer arithmetic; epochs is the ONE
    // final division. Shape at 100 TB: the corpus reduces to a
    // per-source token count in one partial-agg'd scan; the greedy
    // prefix is a window over the HANDFUL of source rows, never the
    // corpus; scalar totals ride 1-row broadcasts.
    Q(
      "p27_repeat_schedule",
      """WITH src AS (
        |  SELECT source,
        |    CAST(sum(len(list_filter(string_split(text, ' '),
        |      x -> x <> ''))) AS BIGINT) AS sz,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(sz) AS BIGINT) AS t FROM src),
        |ord AS (
        |  SELECT source, sz, n_docs,
        |    CAST(COALESCE(sum(3 * sz) OVER (ORDER BY sz, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS pre
        |  FROM src),
        |al AS (
        |  SELECT o.source, o.sz, o.n_docs,
        |    LEAST(3 * o.sz, GREATEST(t.t - o.pre, 0)) AS extra
        |  FROM ord o CROSS JOIN tot t)
        |SELECT source, n_docs, sz AS n_tokens,
        |  CAST(sz + extra AS BIGINT) AS alloc_tokens,
        |  round(CAST(sz + extra AS DOUBLE) / sz, 4) AS epochs,
        |  extra = 3 * sz AS at_cap
        |FROM al ORDER BY source""".stripMargin
    ) { (s, dir) =>
      val cap = 4 // epoch cap: base epoch + up to (cap-1) repeats
      val src = Tables(s, dir, "documents")
        .select(col("source"),
          size(DedupOps.words(col("text"))).cast("long").as("n_tok"))
        .groupBy(col("source"))
        .agg(sum(col("n_tok")).cast("long").as("sz"),
          count(lit(1)).cast("long").as("n_docs"))
      // surplus budget = B − total = total (B = 2 × total tokens)
      val tot = src.agg(sum(col("sz")).cast("long").as("t"))
      // greedy prefix over the per-source rows only (sz ASC, source):
      // unpartitioned window over a handful of reduced rows, not data
      val bysize = Window.orderBy(col("sz"), col("source"))
      val ord = src.select(col("source"), col("sz"), col("n_docs"),
        coalesce(sum(col("sz") * (cap - 1)).over(
            bysize.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("pre"))
      val extra = least(col("sz") * (cap - 1),
        greatest(col("t") - col("pre"), lit(0L)))
      ord.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("sz").as("n_tokens"),
          (col("sz") + extra).cast("long").as("alloc_tokens"),
          round((col("sz") + extra).cast("double") / col("sz"), 4)
            .as("epochs"),
          (extra === col("sz") * (cap - 1)).as("at_cap"))
        .orderBy(col("source"))
    },

    // ---------------------------------------------------------------
    // p28 — sequence-length frontier: the packing-efficiency report
    // that picks the training sequence length. For each candidate L,
    // two costs pull against each other: chunking every document into
    // ⌈n/L⌉ sequences wastes padding in the last chunk (small L wins),
    // while a truncate-to-one-chunk policy loses tokens (large L
    // wins). One corpus scan computes the whole frontier: the per-doc
    // token count explodes across the 4 candidate lengths MAP-SIDE
    // and partial aggregation collapses each partition to 4 rows
    // before the exchange, so the ×4 expansion never shuffles.
    // All-integer sums, one division per ratio. p25 reports the
    // realized waste of p01's packing at one L; this sweeps the
    // DECISION across L.
    Q(
      "p28_seqlen_sweep",
      """WITH d AS (
        |  SELECT CAST(len(list_filter(string_split(text, ' '),
        |    x -> x <> '')) AS BIGINT) AS n
        |  FROM documents),
        |ls AS (SELECT CAST(L AS BIGINT) AS L
        |       FROM (VALUES (32), (64), (128), (256)) t(L)),
        |x AS (
        |  SELECT L, n, CAST((n + L - 1) // L AS BIGINT) AS chunks,
        |    LEAST(n, L) AS kept
        |  FROM d CROSS JOIN ls)
        |SELECT L AS seq_len, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS total_tokens,
        |  round(1.0 - CAST(sum(n) AS DOUBLE) / sum(chunks * L), 6)
        |    AS pad_waste,
        |  round(1.0 - CAST(sum(kept) AS DOUBLE) / sum(n), 6)
        |    AS trunc_loss
        |FROM x GROUP BY L ORDER BY seq_len""".stripMargin
    ) { (s, dir) =>
      val d = Tables(s, dir, "documents")
        .select(size(DedupOps.words(col("text"))).cast("long").as("n"))
      val x = d
        // candidate lengths bracket the fixture's token distribution
        // (mean ~54 tokens) so BOTH costs are non-zero — a sweep where
        // every candidate exceeds every doc reports trunc_loss ≡ 0 and
        // gates nothing
        .withColumn("L", explode(typedLit(Seq(32L, 64L, 128L, 256L))))
        .withColumn("chunks", expr("CAST((n + L - 1) DIV L AS BIGINT)"))
        .withColumn("kept", least(col("n"), col("L")))
      x.groupBy(col("L"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n")).cast("long").as("total_tokens"),
          round(lit(1.0) - sum(col("n")).cast("double")
            / sum(col("chunks") * col("L")), 6).as("pad_waste"),
          round(lit(1.0) - sum(col("kept")).cast("double")
            / sum(col("n")), 6).as("trunc_loss"))
        .select(col("L").as("seq_len"), col("n_docs"),
          col("total_tokens"), col("pad_waste"), col("trunc_loss"))
        .orderBy(col("seq_len"))
    },

    // ---------------------------------------------------------------
    // p29 — quality-threshold frontier: the third frontier report
    // (p28 prices sequence length, d19 the dedup cutoff; this prices
    // the QUALITY gate) — for each cutoff τ on t02's quality score,
    // how many documents and tokens survive and how clean the kept
    // set is. The curve is what a data lead actually reads before
    // fixing the production threshold: token retention falls as mean
    // quality rises, and the knee is the decision. One scoring scan;
    // the τ ladder explodes MAP-SIDE and partial aggregation
    // collapses it before the exchange; kept-quality means reduce as
    // exact decimals (a double sum is partition-order-dependent).
    // CONTRACT: a rung no document clears yields NO row (stated, the
    // d09 lesson) — the ladder is chosen inside the fixture's score
    // range so every rung is populated at every scale.
    Q(
      "p29_quality_frontier",
      """WITH f AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS ts,
        |    CAST(length(text) AS DOUBLE) AS n_chars
        |  FROM documents),
        |q AS (
        |  SELECT CAST(len(ts) AS BIGINT) AS n_tokens,
        |    CAST(((8 * (CAST(len(ts) AS BIGINT)
        |          - len(list_filter(ts, x -> x = 'a' OR x = 'the')))
        |        + 16 * len(list_distinct(ts))
        |        + least(CAST(n_chars AS BIGINT) - len(ts) + 1,
        |            8 * len(ts))) * 2000000
        |      + 32 * len(ts)) // (64 * len(ts)) AS DOUBLE)
        |      / 1000000.0 AS quality
        |  FROM f),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS all_tokens FROM q),
        |sw AS (
        |  SELECT t.tau, n_tokens, quality FROM q
        |  CROSS JOIN (SELECT unnest([0.5, 0.6, 0.7, 0.8]) AS tau) t
        |  WHERE quality >= t.tau)
        |SELECT tau, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
        |  round(CAST(sum(n_tokens) AS DOUBLE) / all_tokens, 6)
        |    AS token_frac,
        |  round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) AS mean_quality
        |FROM sw CROSS JOIN tot
        |GROUP BY tau, all_tokens ORDER BY tau""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val q = TextOps.qualityScore(Tables(s, dir, "documents"),
          "doc_id", "text")
        .select(col("n_tokens"), col("quality"))
      val tot = q.agg(sum(col("n_tokens")).cast("long").as("all_tokens"))
      val sw = q
        .withColumn("tau", explode(typedLit(Seq(0.5, 0.6, 0.7, 0.8))))
        .filter(col("quality") >= col("tau"))
      sw.groupBy(col("tau"))
        .agg(count(lit(1)).cast("long").as("n_kept"),
          sum(col("n_tokens")).cast("long").as("kept_tokens"),
          sum(col("quality").cast(DecimalType(18, 6))).as("sq"))
        .crossJoin(broadcast(tot))
        .select(col("tau"), col("n_kept"), col("kept_tokens"),
          round(col("kept_tokens").cast("double") / col("all_tokens"), 6)
            .as("token_frac"),
          round(col("sq").cast("double") / col("n_kept"), 6)
            .as("mean_quality"))
        .orderBy(col("tau"))
    },

    // ---------------------------------------------------------------
    // p30 — filter agreement: before swapping one quality gate for
    // another, measure how often they agree and whether the agreement
    // beats chance — the 2×2 contingency between t02's score gate
    // (quality ≥ 0.6, p29's knee) and a raw-text Gopher-style rule
    // gate (word count, mean word length, stopword floor — integer
    // cross-multiplications, no float thresholds), with Cohen's kappa
    // correcting for chance agreement. Low kappa = the filters
    // disagree on WHICH docs to keep even if retention rates look
    // similar — swap with care. One corpus scan computes both labels;
    // integer counts reduce; the kappa arithmetic is one identical
    // IEEE expression per engine over the four cells.
    Q(
      "p30_filter_agreement",
      """WITH f AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS ts,
        |    CAST(length(text) AS DOUBLE) AS n_chars
        |  FROM documents),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS nw,
        |    CAST(length(array_to_string(ts, '')) AS BIGINT) AS sumlen,
        |    CAST(len(list_filter(ts,
        |      x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS BIGINT)
        |      AS nstop,
        |    ((8 * (CAST(len(ts) AS BIGINT)
        |          - len(list_filter(ts, x -> x = 'a' OR x = 'the')))
        |        + 16 * len(list_distinct(ts))
        |        + least(CAST(n_chars AS BIGINT) - len(ts) + 1,
        |            8 * len(ts))) * 2000000
        |      + 32 * len(ts)) // (64 * len(ts)) AS q_e6
        |  FROM f),
        |lab AS (
        |  SELECT q_e6 >= 600000 AS ka,
        |    nw >= 50 AND nw <= 100000 AND sumlen >= 3 * nw
        |      AND sumlen <= 10 * nw AND nstop >= 2 AS kb
        |  FROM sig),
        |c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN NOT ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN NOT ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT) AS n00
        |  FROM lab)
        |SELECT n, n11, n10, n01, n00,
        |  round(CAST(n11 + n00 AS DOUBLE) / n, 6) AS agreement,
        |  round((CAST(n11 + n00 AS DOUBLE) / n
        |      - CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
        |          AS DOUBLE) / (CAST(n AS DOUBLE) * n))
        |    / (1.0 - CAST((n11 + n10) * (n11 + n01)
        |          + (n01 + n00) * (n10 + n00)
        |          AS DOUBLE) / (CAST(n AS DOUBLE) * n)), 6) AS kappa
        |FROM c""".stripMargin
    ) { (s, dir) =>
      val ts = DedupOps.words(col("text"))
      // t02's exact-BIGINT quality (TextOps.r6e6): the ka label is an
      // INTEGER comparison (q_e6 >= 600000 ⟺ round6(q) >= 0.6), so no
      // float rounding can sit near the gate threshold (RoundTieSpec)
      val sig = Tables(s, dir, "documents")
        .select(col("doc_id"), ts.as("ts"),
          length(col("text")).cast("long").as("n_chars"))
        .select(
          size(col("ts")).cast("long").as("nw"),
          length(array_join(col("ts"), "")).cast("long").as("sumlen"),
          size(filter(col("ts"),
            x => x.isin("the", "a", "and", "of", "to")))
            .cast("long").as("nstop"),
          {
            val n = size(col("ts")).cast("long")
            val st = size(filter(col("ts"),
              x => x === "a" || x === "the")).cast("long")
            val u = size(array_distinct(col("ts"))).cast("long")
            val mNum = col("n_chars") - n + lit(1L)
            val qNum = lit(8L) * (n - st) + lit(16L) * u +
              least(mNum, lit(8L) * n)
            graft.operators.TextOps.r6e6(qNum, lit(32L) * n).as("q_e6")
          })
      val lab = sig.select((col("q_e6") >= 600000L).as("ka"),
        (col("nw") >= 50 && col("nw") <= 100000 &&
          col("sumlen") >= col("nw") * 3 &&
          col("sumlen") <= col("nw") * 10 && col("nstop") >= 2).as("kb"))
      val c = lab.agg(
        count(lit(1)).cast("long").as("n"),
        sum(when(col("ka") && col("kb"), 1L).otherwise(0L))
          .cast("long").as("n11"),
        sum(when(col("ka") && !col("kb"), 1L).otherwise(0L))
          .cast("long").as("n10"),
        sum(when(!col("ka") && col("kb"), 1L).otherwise(0L))
          .cast("long").as("n01"),
        sum(when(!col("ka") && !col("kb"), 1L).otherwise(0L))
          .cast("long").as("n00"))
      val po = (col("n11") + col("n00")).cast("double") / col("n")
      val pe = ((col("n11") + col("n10")) * (col("n11") + col("n01"))
          + (col("n01") + col("n00")) * (col("n10") + col("n00")))
        .cast("double") / (col("n").cast("double") * col("n"))
      c.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        round(po, 6).as("agreement"),
        round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
    },

    // ---------------------------------------------------------------
    // p31 — DSIR-style importance weighting (Data Selection via
    // Importance Resampling, Xie et al., NeurIPS 2023): score every
    // document by how target-like its hashed n-gram feature profile is,
    // log w(d) = Σ_b c_b(d)·ln(p_target(b)/p_raw(b)), with 256 md5
    // buckets over word unigrams+bigrams, Laplace-smoothed bucket
    // probabilities, target = the 'en' slice. Honesty note: in THIS
    // fixture `lang` is assigned independently of text (all five
    // languages share one 31-word vocabulary at matched frequencies —
    // measured while a logistic-regression trainer was evaluated and
    // rejected), so the top-50 'en' enrichment the direction
    // spec pins is driven by SELF-INCLUSION: each target doc's own
    // tokens tilt p_target toward its own buckets. That is the
    // textbook estimator computed faithfully (production DSIR uses a
    // held-out target for exactly this reason), and the spec's teeth
    // are real either way — a flipped ratio anti-enriches and fails
    // it. Determinism: bucket keys
    // are 2-hex-char strings (no int conversion), probabilities are
    // ratios of exact integer products (< 2⁵³, so the doubles are
    // exact), ONE ln per bucket, and each per-bucket term c·ln(ratio)
    // is round(·,6)-then-DECIMAL(28,6)-summed — t09/t21's order-free
    // discipline, so the sum is partitioning-independent by arithmetic
    // AND immune to JVM-vs-libm last-ulp ln drift that a large c
    // multiplier could push across a 6th-decimal half boundary (the
    // round-7 ordered fold fixed only the former). Scale: feature
    // explode → ONE (doc, bucket) partial agg; the 256-row weight
    // table broadcasts; top-50 is TakeOrderedAndProject. No all-pairs,
    // no window.
    Q(
      "p31_dsir_importance",
      """WITH ws AS (
        |  SELECT doc_id, source, lang,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |fe AS (
        |  SELECT doc_id, substr(md5(f), 1, 2) AS b, count(*) AS c
        |  FROM (
        |    SELECT doc_id, unnest(w) AS f FROM ws
        |    UNION ALL
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 2
        |      THEN list_transform(generate_series(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1])
        |      ELSE CAST([] AS VARCHAR[]) END) AS f FROM ws)
        |  GROUP BY doc_id, b),
        |tl AS (
        |  SELECT fe.b,
        |    CAST(sum(CASE WHEN d.lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS tb,
        |    CAST(sum(c) AS BIGINT) AS rb
        |  FROM fe JOIN ws d USING (doc_id) GROUP BY fe.b),
        |tot AS (SELECT CAST(sum(tb) AS BIGINT) AS t,
        |  CAST(sum(rb) AS BIGINT) AS r FROM tl),
        |wt AS (
        |  SELECT b, ln(CAST((tb + 1) * (r + 256) AS DOUBLE)
        |    / CAST((rb + 1) * (t + 256) AS DOUBLE)) AS lr
        |  FROM tl CROSS JOIN tot),
        |dw AS (
        |  SELECT doc_id,
        |    CAST(sum(CAST(round(c * lr, 6) AS DECIMAL(28,6))) AS DOUBLE)
        |      AS wgt
        |  FROM fe JOIN wt USING (b) GROUP BY doc_id)
        |SELECT d.doc_id, d.source, d.lang, round(dw.wgt, 6) AS log_weight
        |FROM dw JOIN ws d USING (doc_id)
        |ORDER BY round(dw.wgt, 6) DESC, d.doc_id LIMIT 50""".stripMargin
    ) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          DedupOps.words(col("text")).as("w"))
      val uni = docs.select(col("doc_id"), explode(col("w")).as("f"))
      val big = docs
        .select(col("doc_id"), explode(when(size(col("w")) >= 2,
          expr("transform(sequence(1, size(w) - 1)," +
            " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .otherwise(array().cast("array<string>"))).as("f"))
      val fe = uni.unionByName(big)
        .groupBy(col("doc_id"), substring(md5(col("f")), 1, 2).as("b"))
        .agg(count(lit(1)).as("c"))
        .transform(Stage.stage) // feeds the bucket stats AND the doc fold
      val tl = fe
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("b"))
        .agg(sum(when(col("lang") === "en", col("c")).otherwise(0L))
          .cast("long").as("tb"),
          sum(col("c")).cast("long").as("rb"))
      val tot = tl.agg(sum(col("tb")).cast("long").as("t"),
        sum(col("rb")).cast("long").as("r"))
      val wt = tl.crossJoin(broadcast(tot))
        .select(col("b"),
          log(((col("tb") + 1) * (col("r") + 256)).cast("double")
            / ((col("rb") + 1) * (col("t") + 256)).cast("double")).as("lr"))
      val dw = fe.join(broadcast(wt), Seq("b"))
        .select(col("doc_id"),
          round(col("c") * col("lr"), 6).cast("decimal(28,6)").as("term"))
        .groupBy(col("doc_id"))
        .agg(sum(col("term")).cast("double").as("wgt"))
      dw.join(docs.select(col("doc_id"), col("source"), col("lang")),
          Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("lang"),
          round(col("wgt"), 6).as("log_weight"))
        .orderBy(col("log_weight").desc, col("doc_id"))
        .limit(50)
    },

    // ---------------------------------------------------------------
    // p32 — takedown CASCADE (right-to-be-forgotten / DMCA removal
    // propagated through derived artifacts): a removal notice set
    // (doc_id % 17 = 3 — the deterministic stand-in for a legal list)
    // must not just delete source documents; every derived artifact a
    // pipeline materializes has to be re-audited. Three stages here,
    // each a real artifact family this engine builds:
    //   documents — rows leaving the corpus;
    //   chunks    — the d21 CDC store: a chunk hash leaves storage
    //               only if EVERY occurrence was in removed docs; a
    //               surviving chunk whose first-occurrence OWNER was
    //               removed is RE-OWNED by the minimum surviving
    //               (doc, idx) — the accounting a dedup store must
    //               replay or it under-reports retained bytes;
    //   trigrams  — the t21 LM count tables: a trigram drops only if
    //               it was exclusive to removed docs (counts for
    //               shared ones merely decrease).
    // One report row per artifact: n_before, n_removed, n_reowned,
    // n_after. Scale posture: every stage is a hash groupBy on the
    // content key with min/max partial aggs — d01's one-shuffle shape;
    // ownership is min(doc_id) per hash (first occurrence), never a
    // window; no anti-join materializes the removed set (the predicate
    // rides into the aggregates).
    Q(
      "p32_takedown_cascade",
      s"""WITH corpus AS (SELECT doc_id, source, text FROM documents),
        |${DedupQueries.cdcChunkSql},
        |drow AS (SELECT 'documents' AS artifact,
        |  CAST(count(*) AS BIGINT) AS n_before,
        |  CAST(sum(CASE WHEN doc_id % 17 = 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  CAST(0 AS BIGINT) AS n_reowned,
        |  CAST(sum(CASE WHEN doc_id % 17 <> 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_after
        |  FROM corpus),
        |cho AS (SELECT h, min(doc_id) AS mindoc,
        |  max(CASE WHEN doc_id % 17 <> 3 THEN 1 ELSE 0 END) AS surv
        |  FROM r GROUP BY h),
        |chrow AS (SELECT 'chunks' AS artifact,
        |  CAST(count(*) AS BIGINT) AS n_before,
        |  CAST(sum(1 - surv) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN surv = 1 AND mindoc % 17 = 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_reowned,
        |  CAST(sum(surv) AS BIGINT) AS n_after
        |  FROM cho),
        |tg AS (
        |  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        |        FROM ws WHERE len(w) >= 3) t),
        |tga AS (SELECT g,
        |  max(CASE WHEN doc_id % 17 <> 3 THEN 1 ELSE 0 END) AS surv
        |  FROM tg GROUP BY g),
        |tgrow AS (SELECT 'trigrams' AS artifact,
        |  CAST(count(*) AS BIGINT) AS n_before,
        |  CAST(sum(1 - surv) AS BIGINT) AS n_removed,
        |  CAST(0 AS BIGINT) AS n_reowned,
        |  CAST(sum(surv) AS BIGINT) AS n_after
        |  FROM tga)
        |SELECT * FROM drow UNION ALL SELECT * FROM chrow
        |UNION ALL SELECT * FROM tgrow
        |ORDER BY artifact""".stripMargin
    ) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val removed = col("doc_id") % 17 === 3
      val drow = docs
        .agg(count(lit(1)).as("nb"),
          sum(when(removed, 1L).otherwise(0L)).as("nr"))
        .select(lit("documents").as("artifact"),
          col("nb").cast("long").as("n_before"),
          col("nr").cast("long").as("n_removed"),
          lit(0L).as("n_reowned"),
          (col("nb") - col("nr")).cast("long").as("n_after"))
      val ch = DedupQueries.cdcChunkRows(docs)
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("mindoc"),
          max(when(!removed, 1).otherwise(0)).as("surv"))
      val chrow = ch
        .agg(count(lit(1)).as("nb"),
          sum(lit(1) - col("surv")).as("nr"),
          sum(when(col("surv") === 1 && col("mindoc") % 17 === 3, 1L)
            .otherwise(0L)).as("nre"),
          sum(col("surv")).as("na"))
        .select(lit("chunks").as("artifact"),
          col("nb").cast("long").as("n_before"),
          col("nr").cast("long").as("n_removed"),
          col("nre").cast("long").as("n_reowned"),
          col("na").cast("long").as("n_after"))
      val tga = docs
        .select(col("doc_id"), DedupOps.words(col("text")).as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(1), size(col("w")) - 2)).as("i"))
        .select(col("doc_id"), concat_ws(" ",
          element_at(col("w"), col("i")),
          element_at(col("w"), col("i") + 1),
          element_at(col("w"), col("i") + 2)).as("g"))
        .groupBy(col("g"))
        .agg(max(when(!removed, 1).otherwise(0)).as("surv"))
      val tgrow = tga
        .agg(count(lit(1)).as("nb"),
          sum(lit(1) - col("surv")).as("nr"),
          sum(col("surv")).as("na"))
        .select(lit("trigrams").as("artifact"),
          col("nb").cast("long").as("n_before"),
          col("nr").cast("long").as("n_removed"),
          lit(0L).as("n_reowned"),
          col("na").cast("long").as("n_after"))
      drow.unionByName(chrow).unionByName(tgrow)
        .orderBy(col("artifact"))
    },

    // ---------------------------------------------------------------
    // p33 — rendezvous (highest-random-weight) resharding stability:
    // how a 100 TB bucketed corpus store grows its shard set WITHOUT a
    // full rewrite. Every doc goes to argmax over shards of
    // md5(doc_id:shard) (Thaler & Ravishankar 1998); when the set grows
    // 8 → 9, a doc moves only if the NEW shard wins its argmax — so
    // exactly ~1/9 of docs move and every move targets shard 9 (the
    // gated n_moved_elsewhere column is the invariant, 0 by
    // construction). Contrast mod-N hashing, where growth reshuffles
    // (N-1)/N of the corpus. Scale posture: assignment is ONE stateless
    // projection per doc — a fold over a constant S-element shard array
    // (the oracle's unnest+arg_max shape is the SQL rendering; the
    // Spark plan never explodes) — and the only exchange is the final
    // S-group agg. At 100 TB only the moved 1/(S+1) re-materializes;
    // md5 ties are impossible (distinct inputs), so the argmax is
    // deterministic in any engine with md5.
    Q(
      "p33_rendezvous_reshard",
      """WITH sh8 AS (
        |  SELECT doc_id,
        |    arg_max(s, md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)))
        |      AS shard_old
        |  FROM documents CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS s) g
        |  GROUP BY doc_id),
        |sh9 AS (
        |  SELECT doc_id,
        |    arg_max(s, md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)))
        |      AS shard_new
        |  FROM documents CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS s) g
        |  GROUP BY doc_id),
        |j AS (SELECT sh8.doc_id, shard_old, shard_new
        |      FROM sh8 JOIN sh9 USING (doc_id))
        |SELECT CAST(shard_old AS BIGINT) AS shard_old,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN shard_new <> shard_old THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_moved,
        |  CAST(sum(CASE WHEN shard_new <> shard_old AND shard_new <> 9
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_elsewhere,
        |  round(sum(CASE WHEN shard_new <> shard_old THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 6) AS moved_frac
        |FROM j GROUP BY shard_old ORDER BY shard_old""".stripMargin
    ) { (s, dir) =>
      // argmax via array_max over (hash, shard) structs — struct
      // ordering compares hk first; md5 over distinct inputs never
      // ties, so the shard field never decides.
      def hrw(n: Int): org.apache.spark.sql.Column =
        array_max(transform(sequence(lit(1), lit(n)), sh =>
          struct(md5(concat(col("doc_id").cast("string"), lit(":"),
            sh.cast("string"))).as("hk"), sh.as("shard"))))
          .getField("shard").cast("long")
      val moved = col("shard_new") =!= col("shard_old")
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          hrw(8).as("shard_old"), hrw(9).as("shard_new"))
        .groupBy(col("shard_old"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(moved, 1L).otherwise(0L)).cast("long").as("n_moved"),
          sum(when(moved && col("shard_new") =!= 9, 1L).otherwise(0L))
            .cast("long").as("n_moved_elsewhere"),
          round(sum(when(moved, 1L).otherwise(0L))
            / count(lit(1)).cast("double"), 6).as("moved_frac"))
        .orderBy(col("shard_old"))
    },

    // ---------------------------------------------------------------
    // p34 — k-anonymity audit with a generalization ladder (Sweeney
    // 2002): the privacy review a dataset release walks BEFORE
    // publishing — group the corpus by its quasi-identifier columns,
    // count re-identifiable rows (groups smaller than k = 5), then
    // coarsen the identifiers level by level until the risk is gone,
    // quantifying the utility lost at each step. Levels here:
    //   0 (finest)  — nation × segment × account-balance bucket
    //   1           — nation × segment
    //   2 (coarsest)— segment only
    // The fixture fails k = 5 at level 0 (singleton balance buckets),
    // and the ladder shows exactly where it starts holding — the
    // compliance twin of p32's takedown cascade. Scale posture: each
    // level is ONE hash partial-agg over its (bounded) quasi-id key
    // space into a 5-number reduce — d01's one-shuffle shape, three
    // levels = three column-pruned scans (a real release audits far
    // fewer levels than it has rows). All-integer counts; the one
    // ratio is a single int/int double division (repo float
    // contract). Balance buckets TRUNCATE toward zero in both engines
    // — Spark's double→int cast truncates but DuckDB's CAST ROUNDS,
    // so the oracle wraps the bucket in trunc() (caught by the
    // sf0.001 gate: 141 vs 144 small groups).
    Q(
      "p34_k_anonymity",
      """WITH g0 AS (
        |  SELECT count(*) AS c FROM customer
        |  GROUP BY c_nationkey, c_mktsegment,
        |    CAST(trunc(c_acctbal / 1000.0) AS INT)),
        |g1 AS (SELECT count(*) AS c FROM customer
        |       GROUP BY c_nationkey, c_mktsegment),
        |g2 AS (SELECT count(*) AS c FROM customer GROUP BY c_mktsegment),
        |r0 AS (SELECT 0 AS level,
        |    'nation,segment,balance_1k' AS quasi_ids,
        |    CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(min(c) AS BIGINT) AS min_group,
        |    CAST(sum(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS groups_lt_k,
        |    CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT)
        |      AS rows_at_risk,
        |    round(sum(CASE WHEN c < 5 THEN c ELSE 0 END)
        |      / CAST(sum(c) AS DOUBLE), 6) AS pct_at_risk
        |  FROM g0),
        |r1 AS (SELECT 1, 'nation,segment', CAST(count(*) AS BIGINT),
        |    CAST(min(c) AS BIGINT),
        |    CAST(sum(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT),
        |    round(sum(CASE WHEN c < 5 THEN c ELSE 0 END)
        |      / CAST(sum(c) AS DOUBLE), 6)
        |  FROM g1),
        |r2 AS (SELECT 2, 'segment', CAST(count(*) AS BIGINT),
        |    CAST(min(c) AS BIGINT),
        |    CAST(sum(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT),
        |    round(sum(CASE WHEN c < 5 THEN c ELSE 0 END)
        |      / CAST(sum(c) AS DOUBLE), 6)
        |  FROM g2)
        |SELECT * FROM r0 UNION ALL SELECT * FROM r1
        |UNION ALL SELECT * FROM r2 ORDER BY level""".stripMargin
    ) { (s, dir) =>
      val cust = Tables(s, dir, "customer")
      def ladder(level: Int, label: String, keys: Seq[org.apache.spark.sql.Column]) =
        cust.groupBy(keys: _*).agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).cast("long").as("n_groups"),
            min(col("c")).cast("long").as("min_group"),
            sum(when(col("c") < 5, 1L).otherwise(0L)).cast("long")
              .as("groups_lt_k"),
            sum(when(col("c") < 5, col("c")).otherwise(0L)).cast("long")
              .as("rows_at_risk"),
            sum(col("c")).as("total"))
          .select(lit(level).as("level"), lit(label).as("quasi_ids"),
            col("n_groups"), col("min_group"), col("groups_lt_k"),
            col("rows_at_risk"),
            round(col("rows_at_risk") / col("total").cast("double"), 6)
              .as("pct_at_risk"))
      Seq(
        ladder(0, "nation,segment,balance_1k",
          Seq(col("c_nationkey"), col("c_mktsegment"),
            (col("c_acctbal") / 1000.0).cast("int"))),
        ladder(1, "nation,segment",
          Seq(col("c_nationkey"), col("c_mktsegment"))),
        ladder(2, "segment", Seq(col("c_mktsegment"))))
        .reduce(_ unionByName _).orderBy(col("level"))
    },

    // ---------------------------------------------------------------
    // p35 — incremental corpus statistics via MERGEABLE sufficient
    // stats (the pattern that keeps dataset cards and mixture weights
    // current without rescanning 100 TB per ingest): the standing
    // corpus (doc_id % 10 ≠ 0) owns a per-source stats table of
    // (n, Σchars, Σchars², min, max) — all merge under + / min / max —
    // and each ingest batch (the % 10 = 0 delta here) contributes its
    // own; the published stats are the MERGE, never a rescan. The
    // oracle computes the DIRECT full-corpus stats, so the hash gate
    // is an exactness proof of the merge algebra (count/sum/sumsq/
    // min/max are lossless; mean and population variance derive from
    // merged sums: var = (N·s2 − s1²)/N², DECIMAL(18,0) products —
    // inside Spark's exact range — and one IEEE division each).
    // Shape: two partial-agg passes (one per side) + a |sources|-size
    // merge agg; at 100 TB the standing side's pass is amortized (the
    // table persists), so maintenance cost is o(delta).
    Q(
      "p35_incremental_stats",
      """WITH d AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS c FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(c) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0)))
        |    AS BIGINT) AS sumsq_chars,
        |  CAST(min(c) AS BIGINT) AS min_chars,
        |  CAST(max(c) AS BIGINT) AS max_chars,
        |  CAST(sum(c) AS DOUBLE) / count(*) AS mean_chars,
        |  CAST(CAST(count(*) AS DECIMAL(18,0))
        |      * CAST(sum(CAST(c AS DECIMAL(18,0))
        |        * CAST(c AS DECIMAL(18,0))) AS DECIMAL(19,0))
        |      - CAST(sum(c) AS DECIMAL(18,0))
        |        * CAST(sum(c) AS DECIMAL(18,0)) AS DOUBLE)
        |    / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE))
        |    AS var_chars
        |FROM d GROUP BY source ORDER BY source""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val d18 = DecimalType(18, 0)
      val docs = Tables(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          col("n_chars").cast("long").as("c"))
      // per-side sufficient stats (standing corpus vs ingest delta) —
      // the only corpus-scale passes; each is one partial-agg'd shuffle
      def stats(side: org.apache.spark.sql.DataFrame) = side
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("c")).cast("long").as("s1"),
          sum(col("c").cast(d18) * col("c").cast(d18))
            .cast(DecimalType(19, 0)).as("s2"),
          min(col("c")).cast("long").as("mn"),
          max(col("c")).cast("long").as("mx"))
      val standing = stats(docs.filter(col("doc_id") % 10 =!= 0))
      val delta = stats(docs.filter(col("doc_id") % 10 === 0))
      // the MERGE: pure +/min/max over the two |sources|-sized tables
      val merged = standing.unionByName(delta)
        .groupBy(col("source"))
        .agg(sum(col("n")).cast("long").as("n_docs"),
          sum(col("s1")).cast("long").as("sum_chars"),
          sum(col("s2")).cast(DecimalType(19, 0)).as("s2"),
          min(col("mn")).cast("long").as("min_chars"),
          max(col("mx")).cast("long").as("max_chars"))
      val num = (col("n_docs").cast(d18) * col("s2")) -
        (col("sum_chars").cast(d18) * col("sum_chars").cast(d18))
      merged.select(col("source"), col("n_docs"), col("sum_chars"),
          col("s2").cast("long").as("sumsq_chars"),
          col("min_chars"), col("max_chars"),
          (col("sum_chars").cast("double") / col("n_docs"))
            .as("mean_chars"),
          (num.cast("double")
            / (col("n_docs").cast("double") * col("n_docs").cast("double")))
            .as("var_chars"))
        .orderBy(col("source"))
    },

    // ---------------------------------------------------------------
    // p36 — l-diversity audit, the companion to p34's k-anonymity
    // ladder: k-anonymity says every quasi-identifier class is big
    // enough to hide in; l-diversity says the SENSITIVE attribute
    // inside each class is varied enough that membership reveals
    // nothing (Machanavajjhala et al., ICDE 2006 — a k-anonymous
    // class whose members all share one sensitive value still leaks
    // it). Classes are p34's level-1 quasi-identifiers (nation,
    // segment); the sensitive attribute is the 2k-wide balance band.
    // Output is the distribution of distinct-sensitive-count l across
    // classes with the rows-at-risk share for l < 3. One class-keyed
    // partial agg over the corpus (count + count distinct on a
    // ≤6-value attribute), then everything runs on the class table.
    // At 100 TB the class table is |nations|×|segments| — bounded —
    // and the distinct count stays a low-cardinality hash agg.
    Q(
      "p36_l_diversity",
      """WITH cls AS (
        |  SELECT count(*) AS nr,
        |    count(DISTINCT CAST(floor(c_acctbal / 2000.0) AS INT)) AS l
        |  FROM customer GROUP BY c_nationkey, c_mktsegment),
        |t AS (SELECT CAST(sum(nr) AS BIGINT) AS total FROM cls)
        |SELECT CAST(l AS BIGINT) AS l,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(nr) AS BIGINT) AS n_rows,
        |  round(sum(nr) / CAST(t.total AS DOUBLE), 6) AS pct_rows,
        |  l < 3 AS at_risk
        |FROM cls CROSS JOIN t GROUP BY l, t.total
        |ORDER BY l""".stripMargin
    ) { (s, dir) =>
      val cls = Tables(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("nr"),
          countDistinct(floor(col("c_acctbal") / 2000.0).cast("int"))
            .as("l"))
      val tot = cls.agg(sum(col("nr")).cast("long").as("total"))
      cls.groupBy(col("l").cast("long").as("l"))
        .agg(count(lit(1)).cast("long").as("n_classes"),
          sum(col("nr")).cast("long").as("n_rows"))
        .crossJoin(broadcast(tot))
        .select(col("l"), col("n_classes"), col("n_rows"),
          round(col("n_rows") / col("total").cast("double"), 6)
            .as("pct_rows"),
          (col("l") < 3).as("at_risk"))
        .orderBy(col("l"))
    },

    // ---------------------------------------------------------------
    // p37 — corpus concentration: the exact Gini coefficient of
    // per-document token counts plus the top-decile token share — the
    // "does 10% of the corpus carry half the tokens" audit that
    // decides whether a mixing/cap policy (p10, p24) is even needed.
    // Gini = Σ(2·rank − n − 1)·x / (n·Σx) over the GLOBAL token-count
    // order; rank comes from EquiDepth's range exchange + pid-local
    // window (never a single-task sort), ties are rank-order-free in
    // the sum (a tie block's coefficient total is fixed), and both
    // numerator and denominator stay exact BIGINT until two final
    // IEEE divisions. Headroom: 2·rank·nw needs rank·nw < 4.6e18 —
    // fine to ~10¹² docs × 10⁶ tokens sharded per corpus snapshot.
    Q(
      "p37_token_gini",
      """WITH w AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text, ' '), x -> x <> ''))
        |      AS nw
        |  FROM documents),
        |r AS (SELECT nw, row_number() OVER (ORDER BY nw, doc_id) AS r,
        |    count(*) OVER () AS n FROM w),
        |t AS (SELECT CAST(max(n) AS BIGINT) AS n_docs,
        |    CAST(sum(nw) AS BIGINT) AS total_tokens,
        |    CAST(sum((2 * r - n - 1) * nw) AS BIGINT) AS gnum,
        |    CAST(sum(CASE WHEN r > n - n // 10 THEN nw ELSE 0 END)
        |      AS BIGINT) AS top_toks
        |  FROM r)
        |SELECT n_docs, total_tokens,
        |  CAST(gnum AS DOUBLE) / (CAST(n_docs AS DOUBLE) * total_tokens)
        |    AS gini,
        |  CAST(top_toks AS DOUBLE) / total_tokens AS top_decile_share
        |FROM t""".stripMargin
    ) { (s, dir) =>
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(DedupOps.words(col("text"))).cast("long").as("nw"))
      val ranked = graft.operators.EquiDepth.withGlobalRank(
        toks, Seq(col("nw"), col("doc_id")), "r", "n")
      ranked.agg(max(col("n")).as("n_docs"),
          sum(col("nw")).cast("long").as("total_tokens"),
          sum((lit(2L) * col("r") - col("n") - lit(1L)) * col("nw"))
            .cast("long").as("gnum"),
          sum(when(col("r") > col("n") - expr("n DIV 10"), col("nw"))
            .otherwise(0L)).cast("long").as("top_toks"))
        .select(col("n_docs"), col("total_tokens"),
          (col("gnum").cast("double")
            / (col("n_docs").cast("double") * col("total_tokens")))
            .as("gini"),
          (col("top_toks").cast("double") / col("total_tokens"))
            .as("top_decile_share"))
    },

    // ---------------------------------------------------------------
    // p39 — t-CLOSENESS audit (Li, Li & Venkatasubramanian, ICDE
    // 2007), completing the privacy ladder p34 (k-anonymity) and p36
    // (l-diversity) climb: an l-diverse class can still leak when its
    // sensitive values, though distinct, SKEW far from the corpus —
    // t-closeness bounds each class's Earth Mover's Distance to the
    // corpus marginal. Classes are p34's level-1 quasi-identifiers
    // (nation, segment); the sensitive attribute is p36's ordered 2k
    // balance band, so EMD takes the ordered-distance form
    // EMD = Σᵢ |Σ_{j≤i}(p_j − q_j)| / (m−1) over the m-band domain.
    // Exactness: p_j − q_j = (c_j·N − g_j·N_c)/(N_c·N), so the
    // cumulative sums run in exact BIGINT over the (class × band)
    // spine (zero-count bands INCLUDED — the d09 accounting rule —
    // because they still carry cumulative mass), and the one display
    // division is pure IEEE off exact integers — bit-identical in any
    // engine, so the t = 0.25 flag is deterministic (nearest fixture
    // EMD sits 5.6% away; the value itself is gated regardless).
    // Scale: ONE class×band partial agg bounds everything after to
    // |nations|·|segments|·|bands| rows; the marginal and the two
    // scalars broadcast; the window is PARTITIONED by class.
    // Monotonicity under p34's generalization ladder (coarser classes
    // ⇒ max-EMD can only fall, by convexity of EMD in the mixture) is
    // pinned in TClosenessSpec.
    Q(
      "p39_t_closeness",
      """WITH b AS (
        |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal / 2000.0) AS INT) AS band
        |  FROM customer),
        |g AS (SELECT band, CAST(count(*) AS BIGINT) AS gn
        |  FROM b GROUP BY band),
        |n AS (SELECT CAST(sum(gn) AS BIGINT) AS n FROM g),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM g),
        |cls AS (SELECT nat, seg, band, CAST(count(*) AS BIGINT) AS cn
        |  FROM b GROUP BY 1, 2, 3),
        |nc AS (SELECT nat, seg, CAST(sum(cn) AS BIGINT) AS ncr
        |  FROM cls GROUP BY 1, 2),
        |sp AS (SELECT nc.nat, nc.seg, nc.ncr, g.band, g.gn
        |  FROM nc CROSS JOIN g),
        |d AS (SELECT sp.nat, sp.seg, sp.ncr, sp.band,
        |    COALESCE(cls.cn, 0) * n.n - sp.gn * sp.ncr AS diff
        |  FROM sp LEFT JOIN cls ON cls.nat = sp.nat
        |    AND cls.seg = sp.seg AND cls.band = sp.band
        |  CROSS JOIN n),
        |c AS (SELECT nat, seg, ncr,
        |    sum(diff) OVER (PARTITION BY nat, seg ORDER BY band
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d),
        |e AS (SELECT nat, seg, ncr, CAST(sum(abs(cum)) AS BIGINT) AS s
        |  FROM c GROUP BY 1, 2, 3)
        |SELECT CAST(nat AS BIGINT) AS c_nationkey,
        |  seg AS c_mktsegment, ncr AS n_rows,
        |  CAST(s AS DOUBLE) / (CAST(ncr AS DOUBLE) * n.n * (m.m - 1))
        |    AS emd,
        |  CAST(s AS DOUBLE) / (CAST(ncr AS DOUBLE) * n.n * (m.m - 1))
        |    > 0.25 AS exceeds_t
        |FROM e CROSS JOIN n CROSS JOIN m
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val b = Tables(s, dir, "customer")
        .select(col("c_nationkey").as("nat"),
          col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / 2000.0).cast("int").as("band"))
      val g = b.groupBy(col("band"))
        .agg(count(lit(1)).cast("long").as("gn"))
      val nT = g.agg(sum(col("gn")).cast("long").as("n"))
      val mT = g.agg(count(lit(1)).cast("long").as("m"))
      val cls = b.groupBy(col("nat"), col("seg"), col("band"))
        .agg(count(lit(1)).cast("long").as("cn"))
      val nc = cls.groupBy(col("nat"), col("seg"))
        .agg(sum(col("cn")).cast("long").as("ncr"))
      val d = nc.crossJoin(broadcast(g))
        .join(cls, Seq("nat", "seg", "band"), "left_outer")
        .crossJoin(broadcast(nT))
        .select(col("nat"), col("seg"), col("ncr"), col("band"),
          (coalesce(col("cn"), lit(0L)) * col("n")
            - col("gn") * col("ncr")).as("diff"))
      val w = Window.partitionBy(col("nat"), col("seg"))
        .orderBy(col("band"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val e = d.withColumn("cum", sum(col("diff")).over(w))
        .groupBy(col("nat"), col("seg"), col("ncr"))
        .agg(sum(abs(col("cum"))).cast("long").as("s"))
      val emd = col("s").cast("double") /
        (col("ncr").cast("double") * col("n") * (col("m") - lit(1L)))
      e.crossJoin(broadcast(nT)).crossJoin(broadcast(mT))
        .select(col("nat").cast("long").as("c_nationkey"),
          col("seg").as("c_mktsegment"), col("ncr").as("n_rows"),
          emd.as("emd"), (emd > 0.25).as("exceeds_t"))
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    },

    // ---------------------------------------------------------------
    // p38 — STREAMING takedown: p32's cascade driven by a CONTINUOUS
    // removal-notice stream consumed through the `pulsarlike` source —
    // compliance teams process takedowns as they arrive, not as a
    // batch replay. A notice is a high-severity message (property
    // k ≥ 80); its target is (key·100 + k) mod |corpus|, so the
    // notice→document mapping needs no payload parse (content-type-
    // independent, ws11's discipline). Notices land through a
    // watermarked 1-day tumbling window under the ws sentinel
    // choreography — the LATE replay (event_id % 3 = 0, published
    // after the sentinel advanced the watermark) is DROPPED by the
    // window operator, so a replayed notice can never re-trigger or
    // double-count a removal (proven by the gate's
    // numRowsDroppedByWatermark in StreamTakedownSpec); non-notices
    // ride through the aggregation as a NULL target group (a filter
    // before the watermark would push below it and starve the
    // sentinel — the ws11 lesson) and are dropped after landing. The
    // landed notice set then replays p32's cascade: documents leave
    // the corpus, a d21 chunk leaves storage only if EVERY occurrence
    // was removed, a surviving chunk whose first-occurrence owner was
    // removed is re-owned. Scale: stream state is one counter per
    // (open-day × target); the landed set joins the corpus/chunk
    // store by KEY (equi-join, broadcastable while small, partitioned
    // when a mass event isn't) — removal never rescans text.
    Q(
      "p38_stream_takedown",
      s"""WITH corpus AS (SELECT doc_id, source, text FROM documents),
        |${DedupQueries.cdcChunkSql},
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM corpus),
        |ntc AS (
        |  SELECT user_id,
        |    CAST(json_extract(props, '$$.k') AS BIGINT) AS k
        |  FROM events
        |  WHERE event_id % 3 <> 0
        |    AND CAST(json_extract(props, '$$.k') AS BIGINT) >= 80),
        |rset AS (SELECT DISTINCT (user_id * 100 + k) % nd.n AS doc_id
        |  FROM ntc CROSS JOIN nd),
        |nrow AS (SELECT 'notices' AS artifact,
        |  CAST((SELECT count(*) FROM ntc) AS BIGINT) AS n_before,
        |  CAST(0 AS BIGINT) AS n_removed,
        |  CAST(0 AS BIGINT) AS n_reowned,
        |  CAST((SELECT count(*) FROM rset JOIN corpus USING (doc_id))
        |    AS BIGINT) AS n_after),
        |drow AS (SELECT 'documents' AS artifact,
        |  CAST(count(*) AS BIGINT) AS n_before,
        |  CAST(sum(CASE WHEN rs.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_removed,
        |  CAST(0 AS BIGINT) AS n_reowned,
        |  CAST(sum(CASE WHEN rs.doc_id IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_after
        |  FROM corpus c LEFT JOIN rset rs ON rs.doc_id = c.doc_id),
        |cho AS (SELECT h, min(ch.doc_id) AS mindoc,
        |    max(CASE WHEN rs.doc_id IS NULL THEN 1 ELSE 0 END) AS surv
        |  FROM r ch LEFT JOIN rset rs ON rs.doc_id = ch.doc_id
        |  GROUP BY h),
        |chrow AS (SELECT 'chunks' AS artifact,
        |  CAST(count(*) AS BIGINT) AS n_before,
        |  CAST(sum(1 - surv) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN surv = 1 AND mindoc IN
        |      (SELECT doc_id FROM rset) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_reowned,
        |  CAST(sum(surv) AS BIGINT) AS n_after
        |  FROM cho)
        |SELECT * FROM chrow UNION ALL SELECT * FROM drow
        |UNION ALL SELECT * FROM nrow ORDER BY artifact""".stripMargin
    ) { (s, dir) =>
      val landed = StreamingWindowGate.run(s, dir, "graft-wtkd",
        df => df
          .groupBy(window(col("event_time"), "1 day"),
            when(expr("try_cast(element_at(properties, 'k') AS BIGINT)")
                >= 80L,
              expr("try_cast(key AS BIGINT) * 100L + " +
                "try_cast(element_at(properties, 'k') AS BIGINT)"))
              .as("tgt"))
          .agg(count(lit(1)).cast("long").as("n_notices"))
          .select(col("window.start").as("day"), col("tgt"),
            col("n_notices")),
        Seq("day", "tgt"))
        .filter(col("tgt").isNotNull)
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val nd = docs.agg(count(lit(1)).cast("long").as("n"))
      val removedSet = landed.crossJoin(broadcast(nd))
        .select(pmod(col("tgt"), col("n")).as("doc_id")).distinct()
      val rm = removedSet.withColumn("rm", lit(1))
      val nrow = landed
        .agg(sum(col("n_notices")).cast("long").as("n_before"))
        .crossJoin(removedSet
          .join(docs.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .agg(count(lit(1)).cast("long").as("n_after")))
        .select(lit("notices").as("artifact"), col("n_before"),
          lit(0L).as("n_removed"), lit(0L).as("n_reowned"),
          col("n_after"))
      val flagged = docs.join(rm, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("source"), col("text"),
          coalesce(col("rm"), lit(0)).as("rm"))
      val drow = flagged
        .agg(count(lit(1)).as("nb"),
          sum(when(col("rm") === 1, 1L).otherwise(0L)).as("nr"))
        .select(lit("documents").as("artifact"),
          col("nb").cast("long").as("n_before"),
          col("nr").cast("long").as("n_removed"),
          lit(0L).as("n_reowned"),
          (col("nb") - col("nr")).cast("long").as("n_after"))
      val cho = DedupQueries.cdcChunkRows(docs)
        .join(rm, Seq("doc_id"), "left_outer")
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("mindoc"),
          max(when(col("rm").isNull, 1).otherwise(0)).as("surv"))
        .join(rm.select(col("doc_id").as("mindoc"),
          col("rm").as("mrm")), Seq("mindoc"), "left_outer")
      val chrow = cho
        .agg(count(lit(1)).as("nb"),
          sum(lit(1) - col("surv")).as("nr"),
          sum(when(col("surv") === 1 && col("mrm") === 1, 1L)
            .otherwise(0L)).as("nre"),
          sum(col("surv")).as("na"))
        .select(lit("chunks").as("artifact"),
          col("nb").cast("long").as("n_before"),
          col("nr").cast("long").as("n_removed"),
          col("nre").cast("long").as("n_reowned"),
          col("na").cast("long").as("n_after"))
      chrow.unionByName(drow).unionByName(nrow)
        .orderBy(col("artifact"))
    },

    // ---------------------------------------------------------------
    // p40 — cross-source QUANTILE NORMALIZATION (Bolstad et al.,
    // Bioinformatics 2003 — the microarray batch-effect correction,
    // applied to corpus curation): per-source quality scores are not
    // comparable (every source's scorer has its own scale/offset), so
    // a single global threshold (p08's cascade, p29's frontier)
    // silently over-prunes whole sources. The fix maps each document's
    // WITHIN-SOURCE rank onto the CORPUS-WIDE score distribution:
    // norm(d) = corpus value at global rank ⌈r_s(d)·N / n_s⌉ — after
    // which equal-size sources carry literally identical score
    // multisets and a global cut removes the same QUANTILE of every
    // source. Entirely integer-exact: within-source ranks are
    // partitioned row_numbers on a total order, the corpus rank table
    // is EquiDepth's range-exchange construction (two exchanges at any
    // cardinality, never a single-task window), the target rank is the
    // integer ceiling (r·N + n_s − 1) div n_s (q75's discipline), and
    // the lookup is ONE corpus-scale equi-join on the rank key. No
    // doubles anywhere — the gate is exact BIGINTs end to end. Int64
    // width: the ceiling's r·N term approaches N² at the top rank, so
    // it stays under 2⁶³ for N < ~3e9 rows — at 100 TB shard the
    // normalization per ingest batch (the q90/t21 guard) or lift the
    // product into DECIMAL(38,0) in the same ceiling shape.
    Q(
      "p40_quantile_normalize",
      """WITH d AS (
        |  SELECT doc_id, source, n_chars AS score FROM documents),
        |r AS (
        |  SELECT doc_id, source, score,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY score, doc_id) AS src_rank,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
        |  FROM d),
        |g AS (
        |  SELECT score AS gscore,
        |    row_number() OVER (ORDER BY score, doc_id) AS grank
        |  FROM d),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |t AS (
        |  SELECT r.*, (r.src_rank * tot.n + r.n_src - 1) // r.n_src
        |    AS target
        |  FROM r CROSS JOIN tot)
        |SELECT t.doc_id, t.source, t.score,
        |  CAST(t.src_rank AS BIGINT) AS src_rank, t.n_src,
        |  g.gscore AS norm_score
        |FROM t JOIN g ON g.grank = t.target
        |ORDER BY t.doc_id""".stripMargin
    ) { (s, dir) =>
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars").as("score"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("score"), col("doc_id"))
      val r = d.select(col("doc_id"), col("source"), col("score"),
        row_number().over(w).cast("long").as("src_rank"),
        count(lit(1)).over(Window.partitionBy(col("source")))
          .cast("long").as("n_src"))
      val g = graft.operators.EquiDepth.withGlobalRank(
          d.select(col("score"), col("doc_id")),
          Seq(col("score"), col("doc_id")), "grank", "n")
        .select(col("score").as("gscore"), col("grank"), col("n"))
      // the corpus total rides the LEFT side as a broadcast scalar so
      // the target rank is a left-only expression and the lookup plans
      // as a rank-keyed EQUI-join — with `n` read off the right side
      // the key mixes both inputs, Spark falls back to a nested loop,
      // and the operator goes quadratic (caught at 22× in the 10×
      // soak; the equi form restores ~linear)
      val tot = g.agg(max(col("n")).as("n"))
      val t = r.crossJoin(broadcast(tot))
        .select(col("doc_id"), col("source"), col("score"),
          col("src_rank"), col("n_src"),
          expr("(src_rank * n + n_src - 1) div n_src").as("target"))
      t.join(g.select(col("gscore"), col("grank")),
          col("grank") === col("target"))
        .select(col("doc_id"), col("source"), col("score"),
          col("src_rank"), col("n_src"),
          col("gscore").as("norm_score"))
        .orderBy(col("doc_id"))
    }
  )

  /** p04/p12's shared dup corpus (exact + near planted copies) and its
    * 3-round group-min cluster labeling: (dup(doc_id, text),
    * labeled(doc_id, k1, k2, lab)). */
  private def labeledDupCorpus(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val base = Tables(s, dir, "documents")
    val dup = DedupQueries.corpusWithNearDups(base)
      .unionByName(base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))
    var labeled = dup.select(
      col("doc_id"),
      md5(concat_ws(" ", DedupOps.words(col("text")))).as("k1"),
      array_min(transform(TextOps.charNgrams(col("text"), 8), g => md5(g)))
        .as("k2"),
      col("doc_id").as("lab"))
    for (_ <- 0 until 3) {
      labeled = labeled.withColumn("lab", least(
        min(col("lab")).over(Window.partitionBy(col("k1"))),
        min(col("lab")).over(Window.partitionBy(col("k2")))))
    }
    (dup, labeled)
  }

}
