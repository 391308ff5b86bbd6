package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Queries.{events, table}

/** Round-5 queries: LLM-mixing and contrastive-training data prep,
  * plus the runtime-bloom-filter join mechanism and two streaming
  * additions. Same contract as [[Queries]]: every entry is oracle-gated
  * in [[OraclesRound5]].
  */
object QueriesRound5 {

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- left-outer stream-stream interval join, FLUSHED prefix:
    //      purchases with no click within 30 min emit null-padded once
    //      both watermarks pass their horizon. The two-phase fixture
    //      (EventStream.runLeftOuterFlush) pushes the final watermark
    //      past every real purchase, so the drained sink equals the
    //      batch left join — which is exactly what the oracle runs. ----
    "q194_stream_left_outer" -> ((s, dir) =>
      graft.streaming.EventStream.runLeftOuterFlush(s, dir)),

    // ---- temperature-weighted mixture sampling (α = 0.5): LLM data
    //      mixing upsamples small sources relative to their size by
    //      allocating quota ∝ tokens^α. isqrt keeps the weights exact
    //      in both engines (IEEE sqrt is correctly rounded; inputs are
    //      < 2^52 so the double cast is lossless), then the same
    //      deterministic md5-priority greedy fill as q193 — include a
    //      doc while its source's exclusive token prefix-sum is under
    //      that source's quota. Scale shape: one small per-source agg,
    //      broadcast quota join, one windowed pass per source
    //      partition; no collect, no RNG. ----
    "q195_temperature_mixture" -> ((s, dir) => {
      val budget = 5000L
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("long").as("n_tokens"),
          graft.operators.Sketches.hash60(
            concat(lit("mix5:"), col("doc_id"))).as("h"))
      val wts = d.groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("tot"))
        .withColumn("w", floor(sqrt(col("tot").cast("double"))).cast("long"))
      val quotas = wts
        .crossJoin(broadcast(wts.agg(sum(col("w")).as("sw"))))
        .select(col("source"), expr(s"(${budget}L * w) div sw").as("quota"))
      val win = Window.partitionBy(col("source"))
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      d.join(broadcast(quotas), Seq("source"))
        .withColumn("before", coalesce(sum(col("n_tokens")).over(win), lit(0L)))
        .filter(col("before") < col("quota"))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("quota"))
    }),

    // ---- runtime bloom-filter join: the OPTIMIZER mechanism that
    //      saves a selective fact-dim shuffle join at 100 TB — Spark
    //      builds a bloom filter from the filtered creation side and
    //      injects might_contain(l_orderkey) into the probe side's
    //      scan, discarding non-joining fact rows BEFORE the shuffle.
    //      Same hard-gate pattern as q160/q177: the query executes once
    //      under the lowered thresholds, the finalized plan is checked
    //      for the injected filter, and the evidence is baked into the
    //      hash-checked `bloom_pruned` column (values themselves are
    //      conf-independent). Broadcast is disabled so the join
    //      actually shuffles (a broadcast join needs no bloom). ----
    "q196_bloom_runtime_join" -> ((s, dir) => {
      val confs = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        // app side must look "large" relative to the threshold at test
        // scale — production keeps the 10 GB default
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      GraftSession.withConf(s, confs: _*) {
        val li = table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        val ord = table(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_orderstatus"))
        val agg = li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_returnflag"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(DecimalType(14, 2)))
              .cast("double").as("sum_qty"))
        // finalize THIS adaptive plan under the confs above; return the
        // collected handful of group rows as a LOCAL frame so downstream
        // count()/write() doesn't re-execute the shuffled join a second
        // time (same pattern as q160, QueriesScale.scala)
        val rows = agg.collect()
        val plan = agg.queryExecution.executedPlan.toString.toLowerCase
        s.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
          .withColumn("bloom_pruned",
            lit(plan.contains("might_contain") || plan.contains("bloomfilter")))
      }
    }),

    // ---- BPE merge-step pair counting: the inner loop of byte-pair
    //      tokenizer training — count adjacent symbol pairs over the
    //      vocabulary weighted by word frequency, emit the top merge
    //      candidates. Two map-side-combined aggs (corpus→word freq,
    //      word→pair counts) + a bounded TakeOrdered(20); the word
    //      table is |vocab|, not |corpus|, so the pair stage cost is
    //      independent of corpus size. ----
    "q197_bpe_merge_count" -> ((s, dir) => {
      val words = table(s, dir, "documents")
        .select(explode(
          graft.functions.TextFunctions.tokens(lower(col("text")))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
        .filter(length(col("w")) >= 2)
      words
        .select(col("f"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(20)
    }),

    // ---- built-in streaming dedup with watermark-bounded state:
    //      dropDuplicatesWithinWatermark keeps state only inside the
    //      watermark horizon (vs q48's custom TTL state machine) — the
    //      contract that makes infinite-stream dedup feasible: state
    //      is O(keys per watermark window), not O(stream). Emits the
    //      key columns plus the sink-side emission count, so the
    //      exactly-once-per-key contract on the single-batch fixture
    //      is itself under the hash (n_emitted must be 1). ----
    "q198_stream_dedup_watermark" -> ((s, dir) =>
      graft.streaming.EventStream.runDedupWithinWatermark(s, dir)),

    // ---- in-batch-negatives assembly: contrastive training treats
    //      every other doc in a batch as a negative, so a batch must
    //      not contain two docs from the same source (false
    //      negatives). Round-robin interleave: rank docs within each
    //      source by a deterministic md5 draw, order globally by
    //      (rank, source) — consecutive docs then cycle through
    //      sources — and cut into batches of 8. The no-collision
    //      guarantee holds for every rank level at which ≥ 8 sources
    //      are still active; once smaller sources exhaust, tail
    //      batches can span rank groups and may repeat a surviving
    //      source (provably unavoidable for ANY assignment once fewer
    //      than 8 sources remain — drop the tail or rebalance
    //      upstream if the training recipe needs strictness there).
    //      The global order is materialized by the range-partitioned
    //      denseIdsOrdered (no single-partition sort), so assembly is
    //      2 shuffles at any corpus size. ----
    "q199_inbatch_negatives" -> ((s, dir) => {
      val batch = 8L
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.operators.Sketches.hash60(
            concat(lit("nb:"), col("doc_id"))).as("h"))
      val perSource = Window.partitionBy(col("source"))
        .orderBy(col("h"), col("doc_id"))
      val ranked = d.withColumn("r", row_number().over(perSource).cast("long"))
      graft.operators.Intervals
        .denseIdsOrdered(ranked, Seq("r", "source", "doc_id"))
        .select(col("doc_id"), col("source"),
          expr(s"seq_id div ${batch}L").as("batch_id"),
          (col("seq_id") % batch).as("pos"))
    }),

    // ---- product-quantization ANN (ADC): corpus compressed to m = 8
    //      codes per vector (8-dim subspaces, 4-codeword codebook —
    //      the given-centroids protocol of q32); queries score corpus
    //      rows by 8 integer table lookups, never touching corpus
    //      floats. Exact quantized-integer arithmetic throughout, so
    //      the oracle replays codebook build, encode, ADC and top-2
    //      bit-identically. ----
    "q200_pq_ann" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      graft.operators.Similarity.pqTopK(
        corpus = e.filter(col("vec_id") >= 20),
        queries = e.filter(col("vec_id") >= 8 && col("vec_id") < 12),
        codebook = e.filter(col("vec_id") < 4),
        idCol = "vec_id", vecCol = "embedding",
        m = 8, subDim = 8, numCodes = 4, k = 2)
    }),

    // ---- IVF-PQ: coarse quantizer prunes candidates to the query's
    //      cell (q32's assignment), PQ compresses scoring inside the
    //      cell (q200's ADC) — the production vector-index
    //      architecture, 1/K of the corpus probed AND no floats
    //      touched while scoring. Same given-centroids/codebook
    //      protocol as its two constituents. ----
    "q201_ivfpq_ann" -> ((s, dir) => {
      import graft.operators.Similarity
      val e = table(s, dir, "embeddings")
      val centroids = e.filter(col("vec_id") < 8)
      Similarity.ivfPqTopK(
        assignedCorpus = Similarity.assignCentroids(
          e.filter(col("vec_id") >= 20), centroids, "vec_id", "embedding"),
        assignedQueries = Similarity.assignCentroids(
          e.filter(col("vec_id") >= 8 && col("vec_id") < 12), centroids,
          "vec_id", "embedding"),
        codebook = e.filter(col("vec_id") < 4),
        idCol = "vec_id", vecCol = "embedding",
        m = 8, subDim = 8, numCodes = 4, k = 2)
    }),

    // ---- cross-doc repeated spans WITH positions (ExactSubstr
    //      flavor): per doc, the maximal token intervals covered by
    //      any 8-token window occurring ≥2 times corpus-wide — q128
    //      drops hot blocks; this reports surgically-cuttable
    //      intervals. O(corpus tokens), no pairwise doc work. ----
    "q202_repeated_spans" -> ((s, dir) =>
      graft.operators.Corpus.repeatedSpans(
        table(s, dir, "documents"), "doc_id", "text",
        window = 8, minOcc = 2L)),

    // ---- transformWithState running totals under the oracle: the
    //      arbitrary-state v2 engine (typed ValueState, RocksDB) over
    //      a two-phase fixture — keys accumulate ACROSS micro-batches
    //      and the final per-key state equals the batch group-by the
    //      oracle runs. Closes the family's last spec-only row. ----
    "q203_stream_running_totals" -> ((s, dir) =>
      graft.streaming.StatefulCounters.runEventTotals(s, dir)),

    // ---- deterministic k-per-group priority sample: "keep 5 docs per
    //      source, reproducibly, in one pass" — md5 priority + the
    //      bounded top-k aggregator, so each map task ships ≤ k rows
    //      per source into the shuffle (a window formulation ships the
    //      corpus). The reservoir-sampling shape with none of the RNG
    //      nondeterminism. ----
    "q204_group_sample" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.operators.Sketches.hash60(
            concat(lit("gs:"), col("doc_id"))).as("h"))
      graft.operators.TopK.topKPerGroup(s, d, "source", "h", "doc_id", 5)
    }),

    // ---- exact per-stratum percentile cutoffs (CCNet-style quality
    //      bucketing): per language, the exact rank-based p50/p90
    //      token-count values (no interpolation, no approx sketch —
    //      engine-exact), plus head/tail bucket counts against those
    //      cutoffs. One rank window per stratum + a broadcast-back
    //      conditional count. ----
    "q205_lang_cutoffs" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("long").as("nt"))
      val win = Window.partitionBy(col("lang")).orderBy(col("nt"), col("doc_id"))
      val ranked = d.withColumn("rk", row_number().over(win).cast("long"))
      val nper = d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val cuts = ranked.join(broadcast(nper), "lang")
        .withColumn("p50_rk", expr("(n_docs + 1) div 2"))
        .withColumn("p90_rk", expr("(9 * n_docs + 9) div 10"))
      val p50 = cuts.filter(col("rk") === col("p50_rk"))
        .select(col("lang"), col("nt").as("p50"))
      val p90 = cuts.filter(col("rk") === col("p90_rk"))
        .select(col("lang"), col("nt").as("p90"))
      d.join(broadcast(p50), "lang").join(broadcast(p90), "lang")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          first(col("p50")).as("p50"), first(col("p90")).as("p90"),
          sum(when(col("nt") >= col("p90"), 1L).otherwise(0L)).as("n_head"),
          sum(when(col("nt") <= col("p50"), 1L).otherwise(0L)).as("n_tail"))
    }),

    // ---- ANN index lifecycle: the IVF index PERSISTED partitioned by
    //      cell, then maintained INCREMENTALLY — only the delta batch
    //      is assigned and appended (assignment is per-vector, so
    //      incremental == full rebuild, the property that makes the
    //      index maintainable at 10^9 vectors/day); probes read 1/K of
    //      the files via partition pruning on centroid_id (spec
    //      plan-asserts PartitionFilters). ----
    "q207_ann_index_lifecycle" -> ((s, dir) => {
      import graft.operators.Similarity
      val e = table(s, dir, "embeddings")
      val centroids = e.filter(col("vec_id") < 8)
      val work = graft.Scratch.dir("graft_ivf_idx")
      Similarity.assignCentroids(
          e.filter(col("vec_id") >= 20 && col("vec_id") < 300),
          centroids, "vec_id", "embedding")
        .write.partitionBy("centroid_id").mode("overwrite").parquet(work)
      Similarity.assignCentroids(e.filter(col("vec_id") >= 300),
          centroids, "vec_id", "embedding")
        .write.partitionBy("centroid_id").mode("append").parquet(work)
      val index = s.read.parquet(work)
      val queries = Similarity.assignCentroids(
        e.filter(col("vec_id") >= 12 && col("vec_id") < 16), centroids,
        "vec_id", "embedding")
      Similarity.ivfTopK(index, queries, "vec_id", "embedding", k = 2)
    }),

    // ---- Count-Min sketch under the oracle: one constant-size
    //      (4×256 longs) counter matrix summarizing every token
    //      occurrence (built frequency-weighted from the vocab — the
    //      identical matrix, one corpus scan) — the third classic
    //      sketch beside HLL (q45, ±bound-gated) and KMV (q142,
    //      exact) — with estimates for the top-20 words checked
    //      EXACTLY: the oracle rebuilds the same matrix algebraically
    //      (bucket counts = Σ word freqs) and must land on identical
    //      estimates, plus the never-undercount structural invariant.
    //      Lookup is a broadcast of the one-row sketch, no collect. ----
    "q208_countmin" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Sketches
      val depth = 4; val width = 256
      // ONE scan: aggregate to the vocabulary first, then weighted
      // CM inserts — frequency-weighted increments land on the matrix
      // an occurrence-by-occurrence build would (and sketch |vocab|
      // rows instead of |corpus tokens|, the right order at scale)
      val voc = table(s, dir, "documents")
        .select(explode(
          graft.functions.TextFunctions.tokens(lower(col("text")))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("exact"))
      val sketch = voc
        .select(Sketches.hash60(col("w")).as("h"), col("exact").as("f"))
        .as[(Long, Long)]
        .groupByKey(_ => 0)
        .agg(new Sketches.CountMin(depth, width).toColumn.name("cm"))
        .toDF("g", "cm").drop("g")
      val top = voc
        .orderBy(col("exact").desc, col("w")).limit(20)
        .withColumn("h", Sketches.hash60(col("w")))
      top.crossJoin(broadcast(sketch))
        .withColumn("est", expr(
          s"""aggregate(sequence(0, ${depth - 1}), 9223372036854775807L,
              (acc, r) -> least(acc, cm[cast(r * $width +
                ((((h % 2147483647) * (r + 2) + r * 12345) % 2147483647)
                  % $width) as int)]))"""))
        .select(col("w"), col("exact"), col("est"),
          (col("est") >= col("exact")).as("never_under"))
    }),

    // ---- canonical keeper per near-dup cluster: completes the dedup
    //      lifecycle (detect → cluster → SELECT CANONICAL → remap) —
    //      per connected component, keep the doc with the most tokens
    //      (tie: smallest id), argmax via struct max so the choice is
    //      a map-side partial aggregation, and remap every member to
    //      its keeper. ----
    "q209_cluster_keeper" -> ((s, dir) => {
      val d = table(s, dir, "documents").filter(col("doc_id") < 200)
      val comp = graft.operators.Corpus
        .dedupClusters(d, "doc_id", "text", shingleN = 2, bands = 4)
        .select(col("id").as("doc_id"), col("label").as("component"))
      val nt = d.select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("nt"))
      val keeper = comp.join(nt, "doc_id")
        .groupBy(col("component"))
        .agg(max(struct(col("nt"), (-col("doc_id")).as("negid"))).as("best"))
        .select(col("component"), (-col("best.negid")).as("keeper_id"))
      comp.join(keeper, "component")
        .select(col("doc_id"), col("component"), col("keeper_id"),
          (col("doc_id") === col("keeper_id")).as("is_keeper"))
    }),

    // ---- Spark 4 NATIVE recursive CTE: the binary parent tree
    //      (suppkey → suppkey div 2) walked from the root with the
    //      engine's own iterative anchor/step execution — no hand
    //      written frontier loop (q173's formulation). Every node has
    //      exactly one parent, so UNION ALL recursion is linear and
    //      terminates at depth ⌈log2(max key)⌉. The oracle is the
    //      SAME recursion in DuckDB. ----
    "q210_recursive_cte" -> ((s, dir) => {
      table(s, dir, "supplier").createOrReplaceTempView("supplier_v210")
      s.sql("""
        WITH RECURSIVE tree AS (
          SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth
          UNION ALL
          SELECT CAST(sp.s_suppkey AS BIGINT), t.depth + 1
          FROM supplier_v210 sp JOIN tree t ON sp.s_suppkey div 2 = t.node
          WHERE sp.s_suppkey > 1)
        SELECT depth, COUNT(*) AS n, SUM(node) AS sum_node
        FROM tree GROUP BY depth""")
    }),

    // ---- Spark 4 collations, load-bearing: a join that matches ONLY
    //      under UNICODE_CI equality — odd customers carry an
    //      Initcap'd segment, the dim side is lowercase, so binary
    //      equality fails for them and the case-insensitive collation
    //      is what produces the rows. Oracle mirrors with lower(). ----
    "q211_collated_join" -> ((s, dir) => {
      table(s, dir, "customer")
        .withColumn("seg_mixed",
          when(col("c_custkey") % 2 === 0, lower(col("c_mktsegment")))
            .otherwise(initcap(lower(col("c_mktsegment")))))
        .createOrReplaceTempView("cust_v211")
      s.sql("""
        WITH dim AS (SELECT DISTINCT lower(c_mktsegment) AS seg
                     FROM cust_v211)
        SELECT d.seg, COUNT(*) AS n, SUM(c.c_custkey) AS sum_key
        FROM cust_v211 c JOIN dim d
          ON c.seg_mixed COLLATE UNICODE_CI = d.seg COLLATE UNICODE_CI
        GROUP BY d.seg""")
    }),

    // ---- distinct-n-gram diversity per source (mode-collapse /
    //      boilerplate metric): unique trigram windows per total
    //      trigram windows, permille-exact. One shingle explode + one
    //      two-level agg; distinct is per (source, trigram), so the
    //      shuffle carries unique pairs, not occurrences. ----
    "q206_ngram_diversity" -> ((s, dir) => {
      val tri = table(s, dir, "documents")
        .select(col("source"),
          graft.functions.TextFunctions.tokens(lower(col("text"))).as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("source"), explode(expr(
          """transform(sequence(0, size(tk) - 3),
              i -> array_join(slice(tk, i + 1, 3), ' '))""")).as("t"))
      tri.groupBy(col("source"))
        .agg(count(lit(1)).as("n_windows"),
          countDistinct(col("t")).as("n_distinct"))
        .withColumn("diversity_permille",
          expr("(n_distinct * 1000) div n_windows"))
    }))

  private def DecimalType(p: Int, s: Int) =
    org.apache.spark.sql.types.DecimalType(p, s)
}

/** Shared DuckDB SQL fragments used by more than one oracle file —
  * single source of truth so the SQL mirror of an engine kernel cannot
  * silently desynchronize between oracles. */
private[graft] object OracleSql {

  /** hash60: first 15 hex digits of md5 as a base-16 integer (the SQL
    * mirror of [[graft.operators.Sketches.hash60]]); DuckDB lacks
    * conv(), so expand digit-by-digit. */
  def hash60(arg: String): String =
    s"""CAST((SELECT SUM((instr('0123456789abcdef',
           substring(md5($arg), i, 1)) - 1)
         * (CAST(1 AS BIGINT) << (4 * (15 - i))))
       FROM generate_series(1, 15) AS t(i)) AS BIGINT)"""
}

/** DuckDB oracles for [[QueriesRound5.all]]. */
object OraclesRound5 {
  import OracleSql.hash60

  val all: Map[String, String] = Map(

    // the flushed-prefix contract: stream result == batch left join
    "q194_stream_left_outer" ->
      """SELECT a.event_id AS purchase_id, b.event_id AS click_id,
           a.user_id,
           epoch_us(a.ts) AS purchase_us, epoch_us(b.ts) AS click_us
         FROM events a LEFT JOIN events b
           ON a.user_id = b.user_id
          AND b.event_type = 'click'
          AND b.ts > a.ts
          AND b.ts <= a.ts + INTERVAL 30 MINUTE
         WHERE a.event_type = 'purchase' AND a.user_id < 50""",

    "q195_temperature_mixture" ->
      s"""WITH d AS (SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
               x -> x <> '')) AS BIGINT) AS n_tokens,
             ${hash60("'mix5:' || CAST(doc_id AS VARCHAR)")} AS h
           FROM documents),
         t AS (SELECT source, SUM(n_tokens) AS tot FROM d GROUP BY source),
         wts AS (SELECT source,
             CAST(floor(sqrt(CAST(tot AS DOUBLE))) AS BIGINT) AS w FROM t),
         q AS (SELECT source,
             (5000 * w) // (SELECT SUM(w) FROM wts) AS quota FROM wts),
         s AS (SELECT d.doc_id, d.source, d.n_tokens, q.quota,
             COALESCE(SUM(d.n_tokens) OVER (PARTITION BY d.source
               ORDER BY d.h, d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
           FROM d JOIN q USING (source))
         SELECT doc_id, source, n_tokens, CAST(quota AS BIGINT) AS quota
         FROM s WHERE before < quota""",

    // bloom_pruned is the in-query plan gate (q160's pattern): Spark
    // bakes the literal after checking the finalized plan for the
    // injected runtime filter
    "q196_bloom_runtime_join" ->
      """SELECT l.l_returnflag, o.o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(14,2))) AS DOUBLE)
             AS sum_qty,
           TRUE AS bloom_pruned
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE o.o_orderpriority = '1-URGENT'
         GROUP BY 1, 2""",

    "q197_bpe_merge_count" ->
      """WITH w AS (SELECT unnest(list_filter(
             string_split_regex(trim(lower(text)), '\s+'),
             x -> x <> '')) AS w
           FROM documents),
         v AS (SELECT w, COUNT(*) AS f FROM w
               GROUP BY w HAVING length(w) >= 2),
         p AS (SELECT w, f,
               unnest(generate_series(1, length(w) - 1)) AS i FROM v),
         c AS (SELECT substring(w, i, 2) AS pair,
               CAST(SUM(f) AS BIGINT) AS cnt
               FROM p GROUP BY 1)
         SELECT pair, cnt FROM c
         ORDER BY cnt DESC, pair LIMIT 20""",

    // exactly-once per key on the single-batch fixture: duplicate
    // emission would show as n_emitted > 1 and hash-mismatch
    "q198_stream_dedup_watermark" ->
      """SELECT DISTINCT user_id, event_type, CAST(1 AS BIGINT) AS n_emitted
         FROM events""",

    "q199_inbatch_negatives" ->
      s"""WITH d AS (SELECT doc_id, source,
             ${hash60("'nb:' || CAST(doc_id AS VARCHAR)")} AS h
           FROM documents),
         r AS (SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY h, doc_id) AS r
           FROM d),
         sq AS (SELECT doc_id, source,
             ROW_NUMBER() OVER (ORDER BY r, source, doc_id) - 1 AS seq
           FROM r)
         SELECT doc_id, source, seq // 8 AS batch_id, seq % 8 AS pos
         FROM sq""",

    // full PQ replay: codebook subvectors, quantized-integer encode
    // (argmin d2 with code tie-break), per-query ADC tables, m-lookup
    // scoring, top-2 by (adc_d2 asc, neighbor asc)
    "q200_pq_ann" ->
      """WITH cb AS (SELECT vec_id AS code_id, embedding
             FROM embeddings WHERE vec_id < 4),
         corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
         qry AS (SELECT vec_id, embedding
             FROM embeddings WHERE vec_id >= 8 AND vec_id < 12),
         subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
         cbs AS (SELECT code_id, sub,
             embedding[(sub*8+1):(sub*8+8)] AS cv FROM cb CROSS JOIN subs),
         corps AS (SELECT vec_id, sub,
             embedding[(sub*8+1):(sub*8+8)] AS v FROM corp CROSS JOIN subs),
         qrys AS (SELECT vec_id, sub,
             embedding[(sub*8+1):(sub*8+8)] AS v FROM qry CROSS JOIN subs),
         enc_d AS (SELECT c.vec_id, c.sub, b.code_id,
             (SELECT SUM((CAST(round(CAST(x AS DOUBLE)*10000000) AS BIGINT)
                        - CAST(round(CAST(y AS DOUBLE)*10000000) AS BIGINT))
                       * (CAST(round(CAST(x AS DOUBLE)*10000000) AS BIGINT)
                        - CAST(round(CAST(y AS DOUBLE)*10000000) AS BIGINT)))
              FROM (SELECT unnest(c.v) AS x, unnest(b.cv) AS y) zz) AS d2
           FROM corps c JOIN cbs b ON b.sub = c.sub),
         codes AS (SELECT vec_id, sub, code_id FROM (
             SELECT vec_id, sub, code_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                 ORDER BY d2, code_id) AS rn
             FROM enc_d) WHERE rn = 1),
         adc AS (SELECT q.vec_id, q.sub, b.code_id,
             (SELECT SUM((CAST(round(CAST(x AS DOUBLE)*10000000) AS BIGINT)
                        - CAST(round(CAST(y AS DOUBLE)*10000000) AS BIGINT))
                       * (CAST(round(CAST(x AS DOUBLE)*10000000) AS BIGINT)
                        - CAST(round(CAST(y AS DOUBLE)*10000000) AS BIGINT)))
              FROM (SELECT unnest(q.v) AS x, unnest(b.cv) AS y) zz) AS d2
           FROM qrys q JOIN cbs b ON b.sub = q.sub),
         pairs AS (SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(a.d2) AS BIGINT) AS adc_d2
           FROM codes c JOIN adc a
             ON a.sub = c.sub AND a.code_id = c.code_id
           GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id, adc_d2,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY adc_d2, neighbor_id) AS rk
           FROM pairs)
         SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rank, adc_d2
         FROM r WHERE rk <= 2""",

    // q32's max-dot cell assignment CTEs + q200's encode/ADC CTEs,
    // pairs restricted to matching cells
    "q201_ivfpq_ann" ->
      """WITH cent AS (SELECT vec_id AS centroid_id, embedding AS ctv
             FROM embeddings WHERE vec_id < 8),
         cb AS (SELECT vec_id AS code_id, embedding
             FROM embeddings WHERE vec_id < 4),
         corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
         qry AS (SELECT vec_id, embedding
             FROM embeddings WHERE vec_id >= 8 AND vec_id < 12),
         corp_d AS (SELECT c.vec_id, cent.centroid_id,
             (SELECT SUM(CAST(round(CAST(x AS DOUBLE)*10000000) AS BIGINT)
                       * CAST(round(CAST(y AS DOUBLE)*10000000) AS BIGINT))
              FROM (SELECT unnest(c.embedding) AS x, unnest(cent.ctv) AS y) zz)
               AS dot
           FROM corp c, cent),
         corp_a AS (SELECT vec_id, centroid_id FROM (
             SELECT vec_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY dot DESC, centroid_id) AS rn
             FROM corp_d) WHERE rn = 1),
         qry_d AS (SELECT q.vec_id, cent.centroid_id,
             (SELECT SUM(CAST(round(CAST(x AS DOUBLE)*10000000) AS BIGINT)
                       * CAST(round(CAST(y AS DOUBLE)*10000000) AS BIGINT))
              FROM (SELECT unnest(q.embedding) AS x, unnest(cent.ctv) AS y) zz)
               AS dot
           FROM qry q, cent),
         qry_a AS (SELECT vec_id, centroid_id FROM (
             SELECT vec_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY dot DESC, centroid_id) AS rn
             FROM qry_d) WHERE rn = 1),
         subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
         cbs AS (SELECT code_id, sub,
             embedding[(sub*8+1):(sub*8+8)] AS cv FROM cb CROSS JOIN subs),
         corps AS (SELECT vec_id, sub,
             embedding[(sub*8+1):(sub*8+8)] AS v FROM corp CROSS JOIN subs),
         qrys AS (SELECT vec_id, sub,
             embedding[(sub*8+1):(sub*8+8)] AS v FROM qry CROSS JOIN subs),
         enc_d AS (SELECT c.vec_id, c.sub, b.code_id,
             (SELECT SUM((CAST(round(CAST(x AS DOUBLE)*10000000) AS BIGINT)
                        - CAST(round(CAST(y AS DOUBLE)*10000000) AS BIGINT))
                       * (CAST(round(CAST(x AS DOUBLE)*10000000) AS BIGINT)
                        - CAST(round(CAST(y AS DOUBLE)*10000000) AS BIGINT)))
              FROM (SELECT unnest(c.v) AS x, unnest(b.cv) AS y) zz) AS d2
           FROM corps c JOIN cbs b ON b.sub = c.sub),
         codes AS (SELECT vec_id, sub, code_id FROM (
             SELECT vec_id, sub, code_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                 ORDER BY d2, code_id) AS rn
             FROM enc_d) WHERE rn = 1),
         adc AS (SELECT q.vec_id, q.sub, b.code_id,
             (SELECT SUM((CAST(round(CAST(x AS DOUBLE)*10000000) AS BIGINT)
                        - CAST(round(CAST(y AS DOUBLE)*10000000) AS BIGINT))
                       * (CAST(round(CAST(x AS DOUBLE)*10000000) AS BIGINT)
                        - CAST(round(CAST(y AS DOUBLE)*10000000) AS BIGINT)))
              FROM (SELECT unnest(q.v) AS x, unnest(b.cv) AS y) zz) AS d2
           FROM qrys q JOIN cbs b ON b.sub = q.sub),
         pairs AS (SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(a.d2) AS BIGINT) AS adc_d2
           FROM codes c
           JOIN corp_a ca ON ca.vec_id = c.vec_id
           JOIN qry_a qa ON qa.centroid_id = ca.centroid_id
           JOIN adc a ON a.sub = c.sub AND a.code_id = c.code_id
             AND a.vec_id = qa.vec_id
           GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id, adc_d2,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY adc_d2, neighbor_id) AS rk
           FROM pairs)
         SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rank, adc_d2
         FROM r WHERE rk <= 2""",

    // windowed shingles with positions, corpus-wide occurrence filter,
    // gaps-and-islands merge (new island when start > running max end)
    "q202_repeated_spans" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '') AS tk
           FROM documents),
         g AS (SELECT doc_id, tk,
             unnest(generate_series(0, len(tk) - 8)) AS i
           FROM t WHERE len(tk) >= 8),
         sh AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
             array_to_string(tk[(i+1):(i+8)], ' ') AS win FROM g),
         hot AS (SELECT win FROM sh GROUP BY win HAVING COUNT(*) >= 2),
         rep AS (SELECT sh.doc_id, sh.start, sh.start + 7 AS e
                 FROM sh SEMI JOIN hot USING (win)),
         m AS (SELECT doc_id, start, e,
             CASE WHEN MAX(e) OVER w IS NULL OR start > MAX(e) OVER w
                  THEN 1 ELSE 0 END AS nw
           FROM rep
           WINDOW w AS (PARTITION BY doc_id ORDER BY start, e
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         isl AS (SELECT doc_id, start, e,
             SUM(nw) OVER (PARTITION BY doc_id ORDER BY start, e
               ROWS UNBOUNDED PRECEDING) AS island
           FROM m)
         SELECT doc_id, CAST(island AS BIGINT) AS island,
           MIN(start) AS island_start, MAX(e) AS island_end,
           COUNT(*) AS n_windows
         FROM isl GROUP BY doc_id, island""",

    // final per-key state after the two-phase drain == batch group-by
    "q203_stream_running_totals" ->
      """SELECT user_id AS key, COUNT(*) AS n,
           CAST(SUM(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT))
             AS BIGINT) AS total
         FROM events GROUP BY user_id""",

    "q204_group_sample" ->
      s"""WITH d AS (SELECT doc_id, source,
             ${hash60("'gs:' || CAST(doc_id AS VARCHAR)")} AS h
           FROM documents),
         r AS (SELECT source, doc_id, h,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY h DESC, doc_id) AS rank
           FROM d)
         SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, h
         FROM r WHERE rank <= 5""",

    "q205_lang_cutoffs" ->
      """WITH d AS (SELECT doc_id, lang,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
               x -> x <> '')) AS BIGINT) AS nt
           FROM documents),
         r AS (SELECT lang, nt, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY nt, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n
           FROM d),
         p50 AS (SELECT lang, nt AS p50 FROM r WHERE rk = (n + 1) // 2),
         p90 AS (SELECT lang, nt AS p90 FROM r WHERE rk = (9 * n + 9) // 10)
         SELECT d.lang, COUNT(*) AS n_docs,
           CAST(MIN(p50.p50) AS BIGINT) AS p50,
           CAST(MIN(p90.p90) AS BIGINT) AS p90,
           CAST(SUM(CASE WHEN d.nt >= p90.p90 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_head,
           CAST(SUM(CASE WHEN d.nt <= p50.p50 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tail
         FROM d JOIN p50 ON p50.lang = d.lang
         JOIN p90 ON p90.lang = d.lang
         GROUP BY d.lang""",

    // probe-1 IVF over the full (base+delta) corpus — incremental
    // maintenance must equal the full rebuild
    "q207_ann_index_lifecycle" ->
      """WITH cent AS (SELECT vec_id AS centroid_id, embedding AS ctv
             FROM embeddings WHERE vec_id < 8),
         corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
         qry AS (SELECT vec_id, embedding
             FROM embeddings WHERE vec_id >= 12 AND vec_id < 16),
         corp_d AS (SELECT c.vec_id, cent.centroid_id,
             (SELECT SUM(CAST(round(CAST(x AS DOUBLE)*10000000) AS BIGINT)
                       * CAST(round(CAST(y AS DOUBLE)*10000000) AS BIGINT))
              FROM (SELECT unnest(c.embedding) AS x, unnest(cent.ctv) AS y) zz)
               AS dot
           FROM corp c, cent),
         corp_a AS (SELECT vec_id, centroid_id FROM (
             SELECT vec_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY dot DESC, centroid_id) AS rn
             FROM corp_d) WHERE rn = 1),
         qry_d AS (SELECT q.vec_id, cent.centroid_id,
             (SELECT SUM(CAST(round(CAST(x AS DOUBLE)*10000000) AS BIGINT)
                       * CAST(round(CAST(y AS DOUBLE)*10000000) AS BIGINT))
              FROM (SELECT unnest(q.embedding) AS x, unnest(cent.ctv) AS y) zz)
               AS dot
           FROM qry q, cent),
         qry_a AS (SELECT vec_id, centroid_id FROM (
             SELECT vec_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY dot DESC, centroid_id) AS rn
             FROM qry_d) WHERE rn = 1),
         scored AS (SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id,
             (SELECT SUM(CAST(round(CAST(x AS DOUBLE)*10000000) AS BIGINT)
                       * CAST(round(CAST(y AS DOUBLE)*10000000) AS BIGINT))
              FROM (SELECT unnest(q.embedding) AS x, unnest(c.embedding) AS y)
                zz) AS qdot
           FROM qry_a qa JOIN corp_a ca ON qa.centroid_id = ca.centroid_id
           JOIN qry q ON q.vec_id = qa.vec_id
           JOIN corp c ON c.vec_id = ca.vec_id
           WHERE qa.vec_id <> ca.vec_id),
         r AS (SELECT query_id, neighbor_id, qdot,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY qdot DESC, neighbor_id) AS rk
           FROM scored)
         SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rank,
           CAST(qdot AS DOUBLE) / 100000000000000.0 AS dot
         FROM r WHERE rk <= 2""",

    // algebraic rebuild of the same counter matrix: bucket counts are
    // Σ of colliding word frequencies, estimates the min over rows
    "q208_countmin" ->
      s"""WITH t AS (SELECT list_filter(
             string_split_regex(trim(lower(text)), '\\s+'),
             x -> x <> '') AS tk FROM documents),
         occ AS (SELECT unnest(tk) AS w FROM t),
         voc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM occ GROUP BY w),
         vh AS (SELECT w, f, ${OracleSql.hash60("w")} AS h FROM voc),
         rws AS (SELECT unnest(generate_series(0, 3)) AS r),
         cnt AS (SELECT r,
             ((((h % 2147483647) * (r + 2) + r * 12345) % 2147483647)
               % 256) AS bk,
             SUM(f) AS c
           FROM vh CROSS JOIN rws GROUP BY 1, 2),
         top AS (SELECT w, f AS exact, h FROM vh ORDER BY f DESC, w LIMIT 20),
         est AS (SELECT top.w, top.exact, CAST(MIN(cnt.c) AS BIGINT) AS est
           FROM top CROSS JOIN rws
           JOIN cnt ON cnt.r = rws.r
             AND cnt.bk = ((((top.h % 2147483647) * (rws.r + 2)
               + rws.r * 12345) % 2147483647) % 256)
           GROUP BY 1, 2)
         SELECT w, exact, est, est >= exact AS never_under FROM est""",

    // q52's component chain + keeper selection (max tokens, min id).
    // Tokens deliberately UNLOWERED — Corpus.dedupClusters shingles the
    // raw text (q52's convention), and a lowered mirror would diverge
    // the minhashes the first time a fixture regeneration emits an
    // uppercase character.
    "q209_cluster_keeper" ->
      """WITH RECURSIVE d AS (SELECT doc_id, text FROM documents
             WHERE doc_id < 200),
         t AS (SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
               x -> x <> '') AS tk FROM d),
         idx AS (SELECT doc_id, tk,
             unnest(generate_series(1, len(tk) - 1)) AS i FROM t),
         sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] AS shingle
             FROM idx),
         b AS (
           SELECT doc_id, 0 AS band, MIN(md5('0:' || shingle)) AS minhash
             FROM sh GROUP BY doc_id
           UNION ALL SELECT doc_id, 1, MIN(md5('1:' || shingle))
             FROM sh GROUP BY doc_id
           UNION ALL SELECT doc_id, 2, MIN(md5('2:' || shingle))
             FROM sh GROUP BY doc_id
           UNION ALL SELECT doc_id, 3, MIN(md5('3:' || shingle))
             FROM sh GROUP BY doc_id),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
                  FROM b a JOIN b c
                    ON a.band = c.band AND a.minhash = c.minhash
                  WHERE a.doc_id < c.doc_id),
         edges AS (SELECT id_a AS src, id_b AS dst FROM cand
                   UNION ALL SELECT id_b, id_a FROM cand),
         reach AS (
           SELECT doc_id AS id, doc_id AS r FROM d
           UNION
           SELECT e.dst AS id, reach.r AS r
           FROM reach JOIN edges e ON e.src = reach.id),
         comp AS (SELECT id AS doc_id, MIN(r) AS component
                  FROM reach GROUP BY id),
         nt AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS nt FROM t),
         rk AS (SELECT comp.component, comp.doc_id,
             ROW_NUMBER() OVER (PARTITION BY comp.component
               ORDER BY nt.nt DESC, comp.doc_id) AS rn
           FROM comp JOIN nt USING (doc_id)),
         keep AS (SELECT component, doc_id AS keeper_id FROM rk WHERE rn = 1)
         SELECT c.doc_id, c.component, k.keeper_id,
           c.doc_id = k.keeper_id AS is_keeper
         FROM comp c JOIN keep k USING (component)""",

    // identical recursion — DuckDB's // is Spark's div
    "q210_recursive_cte" ->
      """WITH RECURSIVE tree AS (
           SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth
           UNION ALL
           SELECT CAST(sp.s_suppkey AS BIGINT), t.depth + 1
           FROM supplier sp JOIN tree t ON sp.s_suppkey // 2 = t.node
           WHERE sp.s_suppkey > 1)
         SELECT depth, COUNT(*) AS n, CAST(SUM(node) AS BIGINT) AS sum_node
         FROM tree GROUP BY depth""",

    // the CI-collated equality mirrored as lower() equality
    "q211_collated_join" ->
      """WITH c AS (SELECT c_custkey,
             CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                  ELSE upper(substring(lower(c_mktsegment), 1, 1)) ||
                       substring(lower(c_mktsegment), 2) END AS seg_mixed
           FROM customer),
         dim AS (SELECT DISTINCT lower(c_mktsegment) AS seg FROM customer)
         SELECT d.seg, COUNT(*) AS n,
           CAST(SUM(c.c_custkey) AS BIGINT) AS sum_key
         FROM c JOIN dim d ON lower(c.seg_mixed) = d.seg
         GROUP BY d.seg""",

    "q206_ngram_diversity" ->
      """WITH t AS (SELECT source,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '') AS tk
           FROM documents),
         g AS (SELECT source, tk,
             unnest(generate_series(0, len(tk) - 3)) AS i
           FROM t WHERE len(tk) >= 3),
         tri AS (SELECT source, array_to_string(tk[(i+1):(i+3)], ' ') AS t
             FROM g)
         SELECT source, COUNT(*) AS n_windows,
           CAST(COUNT(DISTINCT t) AS BIGINT) AS n_distinct,
           (COUNT(DISTINCT t) * 1000) // COUNT(*) AS diversity_permille
         FROM tri GROUP BY source""")
}
