package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.Salting

/** Query wave 5: skew-mitigation operators proven equivalent to their
  * plain forms, window-function suite, set ops, pivot, sketches. */
object QueriesScale {

  import Queries.{table, events}

  /** TPC-H revenue: Σ extprice·(1−discount) in exact decimal (scale-4
    * products, decimal sum), cast to double only at the boundary. */
  private[graft] def revenue: org.apache.spark.sql.Column =
    sum(col("l_extendedprice").cast(DecimalType(14, 2)) *
        (lit(java.math.BigDecimal.ONE).cast(DecimalType(14, 2)) -
          col("l_discount").cast(DecimalType(14, 2))))
      .cast("double")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- salted join == plain join (skew mitigation correctness) ----
    "q40_salted_join" -> ((s, dir) => {
      val li = table(s, dir, "lineitem").filter(col("l_quantity") >= 40)
        .select("l_orderkey", "l_linenumber")
      val o = table(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        .withColumnRenamed("o_orderkey", "l_orderkey")
      Salting.saltedJoin(li, o, Seq("l_orderkey"), factor = 8)
    }),

    // ---- salted two-phase aggregation == plain aggregation ----
    "q41_salted_agg" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
        .withColumn("qty_dec", col("l_quantity").cast(DecimalType(14, 2)))
      Salting.saltedSumCount(li, Seq("l_returnflag"), "qty_dec", factor = 16)
        .select(col("l_returnflag"),
          col("sum_qty_dec").cast("double").as("sum_qty"), col("n"))
    }),

    // ---- window-function suite: rank/dense_rank/lag/running sum ----
    "q42_window_suite" -> ((s, dir) => {
      val o = table(s, dir, "orders").filter(col("o_orderkey") < 2000)
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        lag(col("o_orderkey"), 1).over(w).as("prev_key"),
        sum(col("o_totalprice").cast(DecimalType(14, 2)))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double").as("running_price"))
    }),

    // ---- set operations: INTERSECT / EXCEPT (distinct semantics) ----
    "q43_setops" -> ((s, dir) => {
      val hi = table(s, dir, "lineitem").filter(col("l_quantity") >= 45)
        .select(col("l_suppkey"))
      val lo = table(s, dir, "lineitem").filter(col("l_quantity") <= 3)
        .select(col("l_suppkey"))
      hi.intersect(lo).withColumn("op", lit("both"))
        .unionByName(hi.except(lo).withColumn("op", lit("hi_only")))
    }),

    // ---- pivot: per-user event-type counts as columns ----
    "q44_pivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = events(s, dir).groupBy(col("user_id"))
        .pivot("event_type", types).agg(count(lit(1)))
      // align null-vs-zero with conditional-count SQL semantics
      p.select(col("user_id") +: types.map(t =>
        coalesce(col(t), lit(0L)).as(t)): _*)
    }),

    // ---- HLL sketch: approx distinct, hard-gated. The sketch value
    //      itself is engine-specific, so the oracle-compared columns
    //      are the exact distinct plus a boolean asserting the HLL
    //      estimate (rsd=0.02) landed within ±5% of it — integer-exact
    //      arithmetic, deterministic (HLL++ is hash-based, seedless) ----
    "q45_approx_distinct" -> ((s, dir) =>
      table(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx") - col("exact_parts")) * 100 <=
            col("exact_parts") * 5).as("within_5pct"))),

    // ---- fact-fact sort-merge join: both sides too big to broadcast
    //      at warehouse scale, so the plan SHUFFLE_MERGEs on the join
    //      key (hinted — at test SF Catalyst would broadcast; at 100 TB
    //      SMJ is the only viable strategy and AQE splits any skewed
    //      partition at runtime). Hash-matched against the oracle; the
    //      plan audit asserts smj >= 1. ----
    "q83_smj_fact_join" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val o = table(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      li.hint("merge").join(o.hint("merge"), "l_orderkey")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(14, 2))).cast("double")
            .as("sum_qty"))
    }),

    // ---- multiset set ops: EXCEPT ALL / INTERSECT ALL preserve
    //      duplicate multiplicity (vs q43's distinct-set forms) ----
    "q119_setops_all" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val hi = li.filter(col("l_quantity") >= 45).select("l_suppkey")
      val lo = li.filter(col("l_quantity") <= 3).select("l_suppkey")
      val ex = hi.exceptAll(lo).groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      val in = hi.intersectAll(lo).groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      ex.unionByName(in)
    }),

    // ---- TPC-H Q3 shape: 3-table join, filtered fact, top-10 revenue ----
    "q113_tpch_q3" -> ((s, dir) => {
      val c = table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1996-03-15").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("o_orderpriority"))
      val l = table(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1996-03-15").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_date"), col("o_orderpriority"))
        .agg(QueriesScale.revenue.as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // ---- TPC-H Q5 shape: 6-table star join, regional revenue ----
    "q114_tpch_q5" -> ((s, dir) => {
      val r = table(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = table(s, dir, "nation")
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val sup = table(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val c = table(s, dir, "customer").select("c_custkey", "c_nationkey")
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val l = table(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey") &&
          c("c_nationkey") === sup("s_nationkey"))
        .join(n, sup("s_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(QueriesScale.revenue.as("revenue"))
    }),

    // ---- TPC-H Q10 shape: returned-item customer report, top-20 ----
    "q115_tpch_q10" -> ((s, dir) => {
      val n = table(s, dir, "nation").select("n_nationkey", "n_name")
      val c = table(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val l = table(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(QueriesScale.revenue.as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // ---- distribution-rank window suite: ntile/percent_rank/cume_dist
    //      + first/last/nth_value over an explicit full frame ----
    "q110_rank_suite" -> ((s, dir) => {
      val o = table(s, dir, "orders").filter(col("o_orderkey") < 2000)
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      o.select(col("o_orderkey"), col("o_orderstatus"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        first_value(col("o_orderkey")).over(wf).as("top_key"),
        last_value(col("o_orderkey")).over(wf).as("bottom_key"),
        nth_value(col("o_orderkey"), 2).over(wf).as("second_key"))
    }),

    // ---- shuffled-hash fact join: the third join strategy (vs the
    //      default broadcast and q83's SMJ) — at scale, right when the
    //      build side exceeds the broadcast threshold but its per-
    //      partition slice fits executor memory (no sort of either
    //      side, unlike SMJ) ----
    "q101_shuffle_hash_join" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val o = table(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      li.join(o.hint("shuffle_hash"), "l_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(14, 2))).cast("double")
            .as("sum_qty"))
    }),

    // ---- streaming RAW→REFINED parity: the checkpointed file-source
    //      stream (the flag-machine replacement, §2.9) applies the
    //      refined transform chain exactly as batch does — oracle-
    //      hash-matched against plain SQL over the same input ----
    "q84_stream_refined" -> ((s, dir) => {
      import graft.config.{RegexReplaceSpec, RegexRule, StripSpec, TargetSpec}
      val out = graft.Scratch.dir("graft_q84_out")
      val ckpt = graft.Scratch.dir("graft_q84_ckpt")
      val schema = s.read.parquet(s"$dir/customer.parquet").schema
      val target = TargetSpec(None, "append", None,
        regexReplace = Seq(RegexReplaceSpec("c_mktsegment",
          Seq(RegexRule(None, "BUILDING", "CONSTRUCTION")))),
        reformat = Nil,
        columnStrip = Seq(StripSpec("c_name", "#")),
        curatedTable = None, curatedMapping = Nil, curatedLookup = None,
        sourceFilter = Nil, sync = None)
      graft.streaming.IncrementalRefined.drainOnce(s, dir, out, ckpt, target,
        schema, "stream_run", pathGlobFilter = Some("customer.parquet"))
      s.read.parquet(out)
    }),

    // ---- deterministic train/val/test split (multiplicative hash) ----
    "q85_hash_split" -> ((s, dir) =>
      graft.operators.Corpus.hashSplit(
        table(s, dir, "documents").select("doc_id"), "doc_id")),

    // ---- concat-and-chunk sequence packing into 512-token bins ----
    "q86_pack_sequences" -> ((s, dir) =>
      graft.operators.Corpus.packSequences(
        table(s, dir, "documents"), Seq("lang"), "doc_id", "text",
        budget = 512)),

    // ---- bloom-pruned semi join: fact rows drop at the scan, exact
    //      semi-join removes bloom false positives (result == plain IN) ----
    "q88_bloom_semi_join" -> ((s, dir) => {
      val dim = table(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 150000)
      val fact = table(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      graft.operators.BloomJoin
        .semiJoin(fact, "l_orderkey", dim, "o_orderkey",
          expectedItems = 1L << 16, fpp = 0.01)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(14, 2))).cast("double")
            .as("sum_qty"))
    }),

    // ---- unpivot/melt: wide per-flag metrics to (flag, metric, value) ----
    "q89_unpivot" -> ((s, dir) => {
      val wide = table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(14, 2))).cast("double")
            .as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(14, 2))).cast("double")
            .as("sum_price"),
          count(lit(1)).cast("double").as("n_rows"))
      wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("n_rows")),
        "metric", "value")
    }),

    // ---- CUBE multi-dimensional aggregation ----
    "q49_cube" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(14, 2))).cast("double")
            .as("sum_qty"))),

    // ---- string-function suite (portable subset) ----
    "q50_string_suite" -> ((s, dir) =>
      table(s, dir, "customer")
        .select(col("c_custkey"),
          lpad(col("c_name"), 25, "*").as("padded"),
          substring(col("c_name"), 10, 5).as("mid"),
          instr(col("c_name"), "#").cast("long").as("hash_pos"),
          translate(col("c_name"), "0123456789", "##########").as("masked"),
          reverse(col("c_name")).as("rev"),
          repeat(col("c_mktsegment"), 2).as("twice"),
          left(col("c_mktsegment"), lit(3)).as("seg3"))),

    // ---- curated row-value builders: value-remap transform,
    //      canceled-flag rule, dummy-key synthesis (§2.6) ----
    "q51_value_builders" -> ((s, dir) => {
      val e = events(s, dir)
      val remap = graft.config.FieldValueSpec(Some("event_type"), Nil, " ", Nil,
        Map("purchase" -> "100000001", "SIGNUP" -> "100000002"), "evt_", "")
      e.select(col("event_id"),
        graft.operators.CuratedOps.fieldValue(e, remap).as("remapped"),
        graft.operators.CuratedOps.canceledFlag(col("event_type"),
          values = Seq("ERROR"), containsAny = Seq("sign")).as("canceled"),
        graft.operators.CuratedOps.dummyKey(
          when(col("event_type") === "purchase", col("props")),
          col("user_id")).as("sync_key"))
    }),

    // ---- as-of join: each event joined to the user's latest order ≤ ts ----
    "q46_asof_join" -> ((s, dir) => {
      val l = events(s, dir).filter(col("user_id") < 50)
        .select("event_id", "user_id", "ts")
      // unique right key per (user, date): deterministic survivor
      val r = table(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      graft.operators.AsOfJoin.asOf(l, r, Seq("user_id"),
          leftId = "event_id", leftTime = "ts", rightTime = "o_orderdate")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("o_orderkey"),
          // o_orderdate arrives as TIMESTAMP_NTZ; session TZ is UTC so
          // the cast is epoch-preserving
          unix_micros(col("o_orderdate").cast("timestamp")).as("order_date_us"))
    }),

    // ---- forward as-of: each event's NEXT order on/after its day ----
    "q117_asof_forward" -> ((s, dir) => {
      val l = events(s, dir).filter(col("user_id") < 50)
        .select("event_id", "user_id", "ts")
      val r = table(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      graft.operators.AsOfJoin.asOf(l, r, Seq("user_id"),
          leftId = "event_id", leftTime = "ts", rightTime = "o_orderdate",
          direction = "forward")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("order_date_us"))
    }),

    // ---- AQE skew-split under the oracle: a planted power-law key
    //      (one user absorbs a third of all events, rows padded fat)
    //      drives a non-broadcastable sort-merge join whose hot shuffle
    //      partition AQE must split at runtime. Thresholds are scaled
    //      to test-data size exactly like production tuning scales them
    //      to executor memory; the in-query gate bakes plan evidence
    //      ("skew=true" in the finalized adaptive plan) into the
    //      hash-checked `skew_split` column — same hard-gate pattern as
    //      q45's HLL bound. Values are integer/string-exact. ----
    "q160_aqe_skew_join" -> ((s, dir) => {
      // Thresholds scale to the INPUT size (clamped to the tuned 1 MB
      // ceiling) exactly like production tuning scales them to executor
      // memory: a fixed 1 MB sat above the whole hot partition at the
      // smallest SF and the skew split silently never fired there.
      // Ceiling rationale unchanged: the hot partition is tens of MB at
      // sf0.1 and 1 MB advisory keeps the split to dozens of
      // sub-partitions (32KB made ~2400 tiny tasks — scheduling
      // overhead dwarfed the join). Floor 32KB: below that even the
      // smallest fixture's planted skew stays splittable.
      val eventsBytes = new java.io.File(s"$dir/events.parquet").length()
      val thr = math.max(32L << 10, math.min(1L << 20, eventsBytes / 2))
      val confs = Seq(
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> thr.toString,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> thr.toString,
        "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      GraftSession.withConf(s, confs: _*) {
        val e = events(s, dir)
        // hot key 1 (an existing customer): every 3rd event remaps to
        // it, then replicates 8× — a planted power-law key. The
        // 64-char md5-hex pad keeps shuffled rows fat AND
        // incompressible (AQE decides on COMPRESSED shuffle bytes);
        // max(pad) in the final agg forces it across the join shuffle.
        val remapped = when(col("event_id") % 3 === 0, lit(1L))
          .otherwise(col("user_id"))
        // repartition(8) models a well-partitioned fact input: AQE
        // splits a skewed REDUCE partition by regrouping MAP outputs,
        // so a single-file scan (one mapper) is structurally
        // unsplittable however skewed — at 100 TB the fact side always
        // has thousands of mappers, and the split needs at least a few
        val left = e.select(remapped.as("k"), col("event_id"),
            concat(md5(col("event_id").cast("string")),
              md5((col("event_id") + 1).cast("string"))).as("pad"))
          .withColumn("rep", explode(sequence(lit(1L),
            when(col("k") === 1L, lit(8L)).otherwise(lit(1L)))))
          .repartition(8)
        // dim side: natural unique key, merge-hinted + broadcast
        // disabled — the non-broadcastable fact-dim SMJ shape. (An
        // aggregated right side would sit INSIDE the join stage and
        // defeat OptimizeSkewedJoin's Sort-over-shuffle pattern.)
        val right = table(s, dir, "customer")
          .select(col("c_custkey").as("k"), col("c_mktsegment"))
        val agg = left.hint("merge").join(right.hint("merge"), "k")
          .groupBy((col("k") % 16).as("bucket"))
          .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
            sum(col("rep")).as("sum_rep"), max(col("pad")).as("max_pad"))
        // finalize THIS adaptive plan under the skew confs; return the
        // collected 16 rows as a LOCAL frame so downstream count()/
        // write() doesn't re-execute the whole skewed join a second time
        val rows = agg.collect()
        val finalPlan = agg.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        s.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
          .withColumn("skew_split", lit(finalPlan.contains("skew=true")))
      }
    }))
}

object OraclesScale {
  val all: Map[String, String] = Map(
    // skew_split is the in-query plan gate: Spark bakes the literal
    // after checking the finalized adaptive plan for "skew=true"
    "q160_aqe_skew_join" ->
      """WITH le AS (SELECT CASE WHEN event_id % 3 = 0 THEN 1
                            ELSE user_id END AS k,
                event_id,
                md5(CAST(event_id AS VARCHAR)) ||
                  md5(CAST(event_id + 1 AS VARCHAR)) AS pad
              FROM events),
         lr AS (SELECT k, event_id, pad,
                  unnest(generate_series(1,
                    CASE WHEN k = 1 THEN 8 ELSE 1 END)) AS rep
                FROM le),
         j AS (SELECT lr.* FROM lr JOIN customer c ON lr.k = c.c_custkey)
         SELECT k % 16 AS bucket, COUNT(*) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id,
           CAST(SUM(rep) AS BIGINT) AS sum_rep,
           MAX(pad) AS max_pad, TRUE AS skew_split
         FROM j GROUP BY 1""",
    // the HLL estimate is engine-specific; the gate asserts the exact
    // distinct AND that Spark's estimate stayed within the documented
    // ±5% band (rsd=0.02 → 2σ ≈ 4%) — a drifting sketch flips the
    // boolean and fails the hash match
    "q45_approx_distinct" ->
      """SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS within_5pct
         FROM lineitem GROUP BY l_returnflag""",

    "q83_smj_fact_join" ->
      """SELECT o.o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         GROUP BY 1""",

    "q119_setops_all" ->
      """WITH hi AS (SELECT l_suppkey FROM lineitem WHERE l_quantity >= 45),
         lo AS (SELECT l_suppkey FROM lineitem WHERE l_quantity <= 3),
         ex AS (SELECT l_suppkey, COUNT(*) AS n, 'except_all' AS op
                FROM (SELECT * FROM hi EXCEPT ALL SELECT * FROM lo)
                GROUP BY l_suppkey),
         ins AS (SELECT l_suppkey, COUNT(*) AS n, 'intersect_all' AS op
                 FROM (SELECT * FROM hi INTERSECT ALL SELECT * FROM lo)
                 GROUP BY l_suppkey)
         SELECT * FROM ex UNION ALL SELECT * FROM ins""",

    "q113_tpch_q3" ->
      """SELECT l.l_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_date,
           o.o_orderpriority,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2)) *
             (1 - CAST(l.l_discount AS DECIMAL(14,2)))) AS DOUBLE) AS revenue
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE c.c_mktsegment = 'BUILDING'
           AND o.o_orderdate < TIMESTAMP '1996-03-15'
           AND l.l_shipdate > TIMESTAMP '1996-03-15'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, l.l_orderkey
         LIMIT 10""",

    "q114_tpch_q5" ->
      """SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2)) *
             (1 - CAST(l.l_discount AS DECIMAL(14,2)))) AS DOUBLE) AS revenue
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
                        AND c.c_nationkey = s.s_nationkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         WHERE r.r_name = 'ASIA'
           AND o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n.n_name""",

    "q115_tpch_q10" ->
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2)) *
             (1 - CAST(l.l_discount AS DECIMAL(14,2)))) AS DOUBLE) AS revenue
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE l.l_returnflag = 'R'
           AND o.o_orderdate >= TIMESTAMP '1996-10-01'
           AND o.o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue DESC, c.c_custkey
         LIMIT 20""",

    "q110_rank_suite" ->
      """SELECT o_orderkey, o_orderstatus,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
           PERCENT_RANK() OVER w AS pr,
           CUME_DIST() OVER w AS cd,
           FIRST_VALUE(o_orderkey) OVER wf AS top_key,
           LAST_VALUE(o_orderkey) OVER wf AS bottom_key,
           NTH_VALUE(o_orderkey, 2) OVER wf AS second_key
         FROM orders WHERE o_orderkey < 2000
         WINDOW w AS (PARTITION BY o_orderstatus
                      ORDER BY o_totalprice DESC, o_orderkey),
                wf AS (PARTITION BY o_orderstatus
                       ORDER BY o_totalprice DESC, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING)""",

    "q101_shuffle_hash_join" ->
      """SELECT o.o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         GROUP BY 1""",

    "q84_stream_refined" ->
      """SELECT c_custkey AS C_CUSTKEY,
           regexp_replace(c_name, '[#]', '', 'g') AS C_NAME,
           c_nationkey AS C_NATIONKEY,
           c_acctbal AS C_ACCTBAL,
           regexp_replace(c_mktsegment, 'BUILDING', 'CONSTRUCTION', 'g')
             AS C_MKTSEGMENT,
           CAST(1 AS INTEGER) AS IS_VALID,
           'stream_run' AS REFINED_PARENT_RUN_ID
         FROM customer""",

    "q85_hash_split" ->
      """SELECT doc_id,
           CAST((doc_id * 2654435761) % 4294967296 % 100 AS INTEGER) AS bucket,
           CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
                WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
         FROM documents""",

    "q86_pack_sequences" ->
      """WITH t AS (SELECT lang, doc_id,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
               x -> x <> '')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT lang, doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS tokens_before
           FROM t)
         SELECT lang, doc_id, n_tokens, tokens_before,
           CAST(FLOOR(tokens_before / 512) AS BIGINT) AS bin
         FROM c""",

    "q88_bloom_semi_join" ->
      """SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         WHERE l_orderkey IN (
           SELECT o_orderkey FROM orders
           WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000)
         GROUP BY l_returnflag""",

    "q89_unpivot" ->
      """WITH w AS (SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price,
           CAST(COUNT(*) AS DOUBLE) AS n_rows
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM w
         UNION ALL
         SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM w
         UNION ALL
         SELECT l_returnflag, 'n_rows' AS metric, n_rows AS value FROM w""",

    "q40_salted_join" ->
      """SELECT l.l_orderkey, l.l_linenumber, o.o_orderpriority
         FROM (SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_quantity >= 40) l
         JOIN (SELECT o_orderkey AS l_orderkey, o_orderpriority FROM orders) o
         USING (l_orderkey)""",

    "q41_salted_agg" ->
      """SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
         COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag""",

    "q42_window_suite" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(RANK() OVER w AS INTEGER) AS rnk,
           CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk,
           LAG(o_orderkey, 1) OVER w AS prev_key,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
             OVER (w ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_price
         FROM orders WHERE o_orderkey < 2000
         WINDOW w AS (PARTITION BY o_orderstatus
                      ORDER BY o_totalprice DESC, o_orderkey)""",

    "q43_setops" ->
      """WITH hi AS (SELECT l_suppkey FROM lineitem WHERE l_quantity >= 45),
         lo AS (SELECT l_suppkey FROM lineitem WHERE l_quantity <= 3)
         SELECT l_suppkey, 'both' AS op FROM (SELECT * FROM hi INTERSECT SELECT * FROM lo)
         UNION ALL
         SELECT l_suppkey, 'hi_only' AS op FROM (SELECT * FROM hi EXCEPT SELECT * FROM lo)""",

    "q44_pivot" ->
      """SELECT user_id,
           COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
         FROM events GROUP BY user_id""",

    "q49_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",

    "q50_string_suite" ->
      """SELECT c_custkey,
           lpad(c_name, 25, '*') AS padded,
           substring(c_name, 10, 5) AS mid,
           CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
           translate(c_name, '0123456789', '##########') AS masked,
           reverse(c_name) AS rev,
           repeat(c_mktsegment, 2) AS twice,
           left(c_mktsegment, 3) AS seg3
         FROM customer""",

    "q51_value_builders" ->
      """SELECT event_id,
           'evt_' || (CASE WHEN lower(event_type) = 'purchase' THEN '100000001'
                           WHEN lower(event_type) = 'signup' THEN '100000002'
                           ELSE event_type END) AS remapped,
           CASE WHEN event_type IS NOT NULL AND
                     (upper(event_type) IN ('ERROR') OR contains(lower(event_type), 'sign'))
                THEN 'Y' ELSE 'N' END AS canceled,
           CASE WHEN event_type = 'purchase' AND trim(props) <> '' THEN props
                ELSE 'NOMBI_' || CAST(user_id AS VARCHAR) END AS sync_key
         FROM events""",

    "q46_asof_join" ->
      """WITH r AS (SELECT o_custkey AS user_id, o_orderdate,
                      MAX(o_orderkey) AS o_orderkey
                    FROM orders GROUP BY 1, 2),
         l AS (SELECT event_id, user_id, ts FROM events WHERE user_id < 50),
         j AS (SELECT l.event_id, l.user_id, l.ts, r.o_orderdate, r.o_orderkey,
                 COALESCE(r.o_orderdate <= l.ts, FALSE) AS ok
               FROM l LEFT JOIN r USING (user_id)),
         p AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                 ORDER BY ok DESC, o_orderdate DESC NULLS LAST) AS rn FROM j)
         SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CASE WHEN ok THEN o_orderkey END AS o_orderkey,
           CASE WHEN ok THEN epoch_us(o_orderdate) END AS order_date_us
         FROM p WHERE rn = 1""",

    "q117_asof_forward" ->
      """WITH r AS (SELECT o_custkey AS user_id, o_orderdate,
                      MAX(o_orderkey) AS o_orderkey
                    FROM orders GROUP BY 1, 2),
         l AS (SELECT event_id, user_id, ts FROM events WHERE user_id < 50),
         j AS (SELECT l.event_id, l.user_id, l.ts, r.o_orderdate, r.o_orderkey,
                 COALESCE(r.o_orderdate >= l.ts, FALSE) AS ok
               FROM l LEFT JOIN r USING (user_id)),
         p AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                 ORDER BY ok DESC, o_orderdate ASC NULLS LAST) AS rn FROM j)
         SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CASE WHEN ok THEN o_orderkey END AS o_orderkey,
           CASE WHEN ok THEN epoch_us(o_orderdate) END AS order_date_us
         FROM p WHERE rn = 1""")
}
