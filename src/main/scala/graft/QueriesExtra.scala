package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.operators.{Cdc, Clustering, Linkage, MaterializedAgg, Profiler, Quantiles, Scd2, TextStats}

/** Round-2 additions: subword tokenization, repetition quality signals,
  * per-group top-k, exact distributed percentiles, date/time suite,
  * single-pass profiling, SCD2 dimension build, histograms, bigram LM
  * tables. Same exactness discipline as [[Queries]]: every computed
  * numeric that crosses the oracle boundary is integer/decimal-exact.
  */
object QueriesExtra {

  import Queries.{table, events}

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- BPE-ish tokenization + repeated-token signal ----
    "q62_bpe_tokens" -> ((s, dir) =>
      TextStats.tokenSignals(table(s, dir, "documents"), "doc_id", "text")),

    // ---- Gopher-style top-bigram repetition fraction ----
    "q63_repetition" -> ((s, dir) =>
      TextStats.topBigramRepetition(table(s, dir, "documents"), "doc_id", "text")),

    // ---- top-k per group (longest docs per language) ----
    "q64_topk_per_group" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      d.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select("lang", "doc_id", "n_chars", "rk")
    }),

    // ---- exact PERCENTILE_DISC at scale (integer rank arithmetic) ----
    "q65_percentiles" -> ((s, dir) =>
      Quantiles.percentilesDisc(table(s, dir, "lineitem"),
        "l_returnflag", "l_quantity",
        Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))),

    // ---- date/time function suite ----
    "q66_date_suite" -> ((s, dir) =>
      table(s, dir, "orders").filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          year(col("o_orderdate")).cast("long").as("y"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          date_format(col("o_orderdate"), "EEEE").as("dow_name"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
          date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
          datediff(lit("1998-12-31").cast("date"), col("o_orderdate"))
            .cast("long").as("days_to_eoy"))),

    // ---- single-pass per-column profiling ----
    "q67_profile" -> ((s, dir) =>
      Profiler.profile(table(s, dir, "customer"),
        Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))),

    // ---- SCD2 validity intervals from the event log ----
    "q68_scd2" -> ((s, dir) =>
      Scd2.build(events(s, dir), "user_id", "ts", "event_id", Seq("event_type"))),

    // ---- fixed-width histogram of order totals ----
    "q69_histogram" -> ((s, dir) =>
      table(s, dir, "orders")
        .groupBy(least(floor(col("o_totalprice") / 25000.0), lit(9))
          .cast("long").as("price_bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("sum_price"))),

    // ---- corpus bigram LM: most frequent successor per word ----
    "q70_bigram_next" -> ((s, dir) =>
      TextStats.bigramNext(table(s, dir, "documents"), "text", minCount = 10L)),

    // ---- ratio-to-report: supplier share of flag total, integer ppm ----
    "q108_ratio_report" -> ((s, dir) => {
      val g = table(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_suppkey"),
          col("l_quantity").cast("long").as("q"))
        .groupBy(col("l_returnflag"), col("l_suppkey"))
        .agg(sum(col("q")).as("sq"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"))
      g.withColumn("flag_total", sum(col("sq")).over(w))
        .withColumn("share_ppm", expr("sq * 1000000 div flag_total"))
    }),

    // ---- median absolute deviation (robust dispersion) ----
    "q109_mad" -> ((s, dir) =>
      Quantiles.medianAbsoluteDeviation(
        table(s, dir, "lineitem")
          .select(col("l_returnflag").as("grp"),
            col("l_quantity").cast("long").as("v")),
        "grp", "v")),

    // ---- per-doc OOV rate vs corpus top-30 vocab (quality proxy) ----
    "q104_oov_rate" -> ((s, dir) =>
      TextStats.oovRate(table(s, dir, "documents"), "doc_id", "text",
        vocabK = 30)),

    // ---- PMI collocation mining (integer-scaled, top-50) ----
    "q98_collocations" -> ((s, dir) =>
      TextStats.collocations(table(s, dir, "documents"), "text",
        minCount = 20L, k = 50)),

    // ---- k-means over embeddings (2 Lloyd iterations, fixed-point) ----
    "q71_kmeans" -> ((s, dir) =>
      Clustering.kmeans(table(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 2)
        .select(col("vid").as("vec_id"), col("cid").as("cluster"))),

    // ---- blocked fuzzy self-join (entity resolution) ----
    "q72_fuzzy_join" -> ((s, dir) =>
      Linkage.fuzzySelfJoin(
        table(s, dir, "part").select("p_partkey", "p_name", "p_brand"),
        "p_partkey", "p_name", Seq("p_brand"), maxDist = 4)),

    // ---- CDC changelog collapse to live snapshot ----
    "q73_cdc_apply" -> ((s, dir) => {
      val changes = table(s, dir, "orders").select(
        col("o_custkey").as("key"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 10 < 2, "D").otherwise("U").as("op"),
        col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"))
      Cdc.applyChanges(changes, Seq("key"), "seq", "op")
    }),

    // ---- heavy-hitter skew report (salting diagnostic) ----
    "q74_heavy_hitters" -> ((s, dir) =>
      Profiler.heavyHitters(
        table(s, dir, "lineitem").select("l_suppkey"), Seq("l_suppkey"), 20)),

    // ---- append chain + OPTIMIZE compaction preserves content ----
    "q75_compaction" -> ((s, dir) => {
      val work = graft.Scratch.dir("graft_compact")
      val cat = new graft.catalog.TableCatalog(s, work)
      val c = table(s, dir, "customer").filter(col("c_custkey") <= 300)
        .select("c_custkey", "c_name", "c_acctbal")
      val t = "D.S.COMPACT"
      cat.append(t, c.filter(col("c_custkey") % 3 === 0))
      cat.append(t, c.filter(col("c_custkey") % 3 === 1))
      cat.append(t, c.filter(col("c_custkey") % 3 === 2))
      cat.compact(t)
      require(cat.fileStats(t)._1 < 3, "compaction must reduce file count")
      cat.read(t)
    }),

    // ---- incremental CDC snapshot (pruned MERGE) == full recompute ----
    "q76_incremental_snapshot" -> ((s, dir) => {
      val work = graft.Scratch.dir("graft_snap")
      val cat = new graft.catalog.TableCatalog(s, work)
      val changes = table(s, dir, "orders").select(
        col("o_custkey").as("key"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 10 < 2, "D").otherwise("U").as("op"),
        col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"))
      val mid = 30000L
      val t = "D.S.SNAP"
      // batch 1: full collapse (keep tombstones so later batches can
      // override them); batch 2: collapse independently, MERGE on key —
      // valid because the split is on seq, so batch-2 changes are
      // strictly newer per key
      def collapse(b: org.apache.spark.sql.DataFrame) = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("key")).orderBy(col("seq").desc, col("op").asc)
        b.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      }
      cat.overwrite(t, collapse(changes.filter(col("seq") <= mid)))
      cat.merge(t, collapse(changes.filter(col("seq") > mid)), Seq("key"))
      cat.read(t).filter(col("op") =!= "D")
    }),

    // ---- schema evolution: append a wider batch, merged-schema read
    //      resolves the union (old rows surface NULL for new cols) ----
    "q100_schema_evolution" -> ((s, dir) => {
      val work = graft.Scratch.dir("graft_evo")
      val cat = new graft.catalog.TableCatalog(s, work)
      val sup = table(s, dir, "supplier")
      val t = "D.S.EVO"
      cat.append(t, sup.filter(col("s_suppkey") % 2 === 0)
        .select("s_suppkey", "s_name"))
      cat.append(t, sup.filter(col("s_suppkey") % 2 === 1)
        .select(col("s_suppkey"), col("s_name"),
          col("s_nationkey").cast("long").as("nation")))
      cat.readMergedSchema(t)
    }),

    // ---- sliding RANGE-frame window: per event, trailing-1h stats ----
    "q96_sliding_window" -> ((s, dir) => {
      val e = Queries.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600L * 1000000L, 0)
      e.select(col("event_id"), col("user_id"), col("ts_us"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("value").cast(DecimalType(14, 2))).over(w).cast("double")
          .as("sum_1h"))
    }),

    // ---- winsorized robust aggregation (clamp to p05/p95 band) ----
    "q97_winsorize" -> ((s, dir) => {
      val e = Queries.events(s, dir)
        .select(col("event_type"), col("value").cast(DecimalType(14, 2)).as("v"))
      Quantiles.winsorize(e, "event_type", "v", (1, 20), (19, 20))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("v_w")).cast("double").as("sum_w"),
          min(col("v_w")).cast("double").as("min_w"),
          max(col("v_w")).cast("double").as("max_w"))
    }),

    // ---- partitioned COW update: rewrite only the matched partition,
    //      carry untouched partition dirs by manifest reference ----
    "q95_partitioned_update" -> ((s, dir) => {
      val work = graft.Scratch.dir("graft_pupd")
      val cat = new graft.catalog.TableCatalog(s, work)
      val o = table(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      val t = "D.S.PUPD"
      cat.overwritePartitioned(t, o, Seq("o_orderstatus"))
      cat.updateWhere(t, Map("o_orderpriority" -> lit("DONE")),
        col("o_orderstatus") === "F")
      cat.read(t)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(14, 2))).cast("double")
            .as("sum_price"))
    }),

    // ---- change-data-feed between two catalog versions (time travel
    //      read of v_before + full-outer diff → insert/update/delete) ----
    "q90_version_diff" -> ((s, dir) => {
      val work = graft.Scratch.dir("graft_cdf")
      val cat = new graft.catalog.TableCatalog(s, work)
      val cust = table(s, dir, "customer").select(
        col("c_custkey").as("key"), col("c_name").as("name"),
        col("c_acctbal").cast(DecimalType(14, 2)).cast("double").as("acctbal"))
      val t = "D.S.CDF"
      cat.overwrite(t, cust.filter(col("key") <= 200))
      val vBefore = cat.version(t).get
      // after-state: delete key%7==0, bump acctbal for key>=101, insert
      // 201-250 — exercises all three change types in one diff
      val updated = cat.read(t).filter(col("key") % 7 =!= 0)
        .withColumn("acctbal",
          when(col("key") >= 101,
            (col("acctbal").cast(DecimalType(14, 2)) + 100).cast("double"))
            .otherwise(col("acctbal")))
      val inserts = table(s, dir, "customer")
        .filter(col("c_custkey").between(201, 250) && col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey").as("key"), col("c_name").as("name"),
          (col("c_acctbal").cast(DecimalType(14, 2)) + 100).cast("double")
            .as("acctbal"))
      cat.overwrite(t, updated.unionByName(inserts))
      Cdc.versionDiff(cat.readVersion(t, vBefore), cat.read(t), Seq("key"))
    }),

    // ---- fixed-width file round-trip (healthcare feed layout) ----
    "q111_fixed_width" -> ((s, dir) => {
      import graft.sources.FixedWidthReader
      import graft.sources.FixedWidthReader.FieldSpec
      val layout = Seq(FieldSpec("s_suppkey", 1, 10, "bigint"),
        FieldSpec("s_name", 11, 30), FieldSpec("nation", 41, 5, "bigint"))
      val work = graft.Scratch.dir("graft_fw")
      FixedWidthReader.render(
          table(s, dir, "supplier").select(col("s_suppkey"), col("s_name"),
            col("s_nationkey").cast("long").as("nation")),
          layout)
        .write.mode("overwrite").text(s"$work/sup")
      FixedWidthReader.parse(s.read.text(s"$work/sup"), "value", layout)
    }),

    // ---- JSON-lines sink/source round-trip (format breadth) ----
    "q103_jsonl_roundtrip" -> ((s, dir) => {
      val work = graft.Scratch.dir("graft_jsonl")
      table(s, dir, "documents").select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").json(s"$work/docs")
      s.read
        .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
        .json(s"$work/docs")
        .filter(col("n_chars") > 100)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
    }),

    // ---- ORC source/sink round-trip (format breadth beyond parquet) ----
    "q77_orc_roundtrip" -> ((s, dir) => {
      val work = graft.Scratch.dir("graft_orc")
      table(s, dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
        .write.mode("overwrite").orc(s"$work/sup")
      s.read.orc(s"$work/sup")
        .filter(col("s_suppkey") % 2 === 0)
        .select(col("s_suppkey"), col("s_name"),
          col("s_nationkey").cast("long").as("nation"))
    }),

    // ---- Z-ORDER compaction preserves content exactly ----
    "q78_zorder" -> ((s, dir) => {
      val work = graft.Scratch.dir("graft_zorder")
      val cat = new graft.catalog.TableCatalog(s, work)
      val o = table(s, dir, "orders").filter(col("o_orderkey") <= 20000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val t = "D.S.ZORD"
      cat.append(t, o.filter(col("o_orderkey") % 2 === 0))
      cat.append(t, o.filter(col("o_orderkey") % 2 === 1))
      cat.compactZOrder(t, Seq("o_custkey", "o_totalprice"),
        targetFileBytes = 64L * 1024)
      cat.read(t)
    }),

    // ---- interpolated percentiles at dyadic p (bit-exact doubles) ----
    "q79_percentile_cont" -> ((s, dir) =>
      Quantiles.percentilesCont(table(s, dir, "lineitem"),
        "l_returnflag", "l_quantity",
        Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75)))),

    // ---- canonical text normalization (accent fold + ws collapse) ----
    "q80_normalize" -> ((s, dir) =>
      table(s, dir, "documents").select(col("doc_id"),
        TextStats.normalize(concat(col("text"),
          lit("  RÉSUMÉ  Café\tNiño  à-la-carte "),
          col("doc_id").cast("string"))).as("norm"))),

    // ---- LISTAGG / string_agg with deterministic order ----
    "q82_listagg" -> ((s, dir) =>
      table(s, dir, "supplier")
        .groupBy(col("s_nationkey").cast("long").as("nation"))
        .agg(concat_ws(",", array_sort(collect_list(col("s_name"))))
          .as("names"))),

    // ---- incremental materialized aggregate == full recompute ----
    "q81_incremental_agg" -> ((s, dir) => {
      val o = table(s, dir, "orders").select(
        col("o_orderstatus"), col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
      val keys = Seq("o_orderstatus")
      val b1 = o.filter(col("o_orderkey") % 3 =!= 0).drop("o_orderkey")
      val b2 = o.filter(col("o_orderkey") % 3 === 0).drop("o_orderkey")
      val v1 = MaterializedAgg.refresh(None, b1, keys, Seq("price"))
      MaterializedAgg.refresh(Some(v1), b2, keys, Seq("price"))
        .select(col("o_orderstatus"), col("n"),
          col("sum_price").cast("double").as("sum_price"))
    }))
}

object OraclesExtra {
  private val toks =
    "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"
  private val toksLower =
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"

  val all: Map[String, String] = Map(
    "q62_bpe_tokens" ->
      s"""WITH t AS (SELECT doc_id,
           regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+') AS bpe,
           $toks AS ws
         FROM documents)
         SELECT doc_id,
           CAST(len(bpe) AS BIGINT) AS n_bpe,
           md5(array_to_string(bpe, '|')) AS tok_md5,
           CAST(len(ws) AS BIGINT) AS n_ws,
           CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
           CAST(CASE WHEN len(ws) > 0
             THEN ((len(ws) - len(list_distinct(ws))) * 1000) // len(ws)
             ELSE 0 END AS BIGINT) AS dup_permille
         FROM t""",

    "q63_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         idx AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM t),
         bg AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS big FROM idx),
         c AS (SELECT doc_id, big, COUNT(*) AS c FROM bg GROUP BY doc_id, big),
         top AS (SELECT doc_id, MAX(c) AS top_n, SUM(c) AS n_bg FROM c GROUP BY doc_id)
         SELECT t.doc_id,
           CAST(COALESCE(top.top_n, 0) AS BIGINT) AS top_bigram_n,
           CAST(COALESCE(top.n_bg, 0) AS BIGINT) AS n_bigrams,
           CAST(CASE WHEN COALESCE(top.n_bg, 0) > 0
             THEN (top.top_n * 1000) // top.n_bg ELSE 0 END AS BIGINT)
             AS top_bigram_permille
         FROM t LEFT JOIN top ON top.doc_id = t.doc_id""",

    "q64_topk_per_group" ->
      """SELECT lang, doc_id, n_chars, CAST(rk AS BIGINT) AS rk FROM (
           SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk
           FROM documents) WHERE rk <= 3""",

    "q65_percentiles" ->
      """SELECT l_returnflag,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity) AS p50,
           percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity) AS p90,
           percentile_disc(0.99) WITHIN GROUP (ORDER BY l_quantity) AS p99
         FROM lineitem GROUP BY l_returnflag""",

    "q66_date_suite" ->
      """SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS d,
           CAST(year(o_orderdate) AS BIGINT) AS y,
           CAST(quarter(o_orderdate) AS BIGINT) AS q,
           CAST(month(o_orderdate) AS BIGINT) AS m,
           CAST(day(o_orderdate) AS BIGINT) AS dom,
           strftime(o_orderdate, '%A') AS dow_name,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           strftime(CAST(o_orderdate + INTERVAL 30 DAY AS DATE), '%Y-%m-%d') AS plus30,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_to_eoy
         FROM orders WHERE o_orderkey < 1000""",

    "q67_profile" ->
      """SELECT 'c_custkey' AS "column", COUNT(*) AS n_rows,
           COUNT(*) - COUNT(c_custkey) AS n_null,
           COUNT(DISTINCT c_custkey) AS n_distinct,
           CAST(MIN(c_custkey) AS VARCHAR) AS min_repr,
           CAST(MAX(c_custkey) AS VARCHAR) AS max_repr FROM customer
         UNION ALL
         SELECT 'c_name', COUNT(*), COUNT(*) - COUNT(c_name),
           COUNT(DISTINCT c_name), MIN(c_name), MAX(c_name) FROM customer
         UNION ALL
         SELECT 'c_nationkey', COUNT(*), COUNT(*) - COUNT(c_nationkey),
           COUNT(DISTINCT c_nationkey),
           CAST(MIN(c_nationkey) AS VARCHAR), CAST(MAX(c_nationkey) AS VARCHAR) FROM customer
         UNION ALL
         SELECT 'c_acctbal', COUNT(*), COUNT(*) - COUNT(c_acctbal),
           COUNT(DISTINCT c_acctbal),
           CAST(CAST(MIN(c_acctbal) AS DECIMAL(18,2)) AS VARCHAR),
           CAST(CAST(MAX(c_acctbal) AS DECIMAL(18,2)) AS VARCHAR) FROM customer
         UNION ALL
         SELECT 'c_mktsegment', COUNT(*), COUNT(*) - COUNT(c_mktsegment),
           COUNT(DISTINCT c_mktsegment), MIN(c_mktsegment), MAX(c_mktsegment) FROM customer""",

    "q68_scd2" ->
      """SELECT user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           COALESCE(strftime(LEAD(ts) OVER w, '%Y-%m-%d %H:%M:%S'),
             '9999-01-01 00:00:00') AS valid_to,
           CAST(CASE WHEN LEAD(ts) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",

    "q69_histogram" ->
      """SELECT CAST(LEAST(FLOOR(o_totalprice / 25000.0), 9) AS BIGINT) AS price_bucket,
           COUNT(*) AS n,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY 1""",

    "q70_bigram_next" ->
      s"""WITH t AS (SELECT $toksLower AS tk FROM documents),
         idx AS (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM t),
         bg AS (SELECT tk[i] AS w, tk[i+1] AS next_tok FROM idx),
         c AS (SELECT w, next_tok, COUNT(*) AS n FROM bg GROUP BY w, next_tok),
         r AS (SELECT w, next_tok, n,
             ROW_NUMBER() OVER (PARTITION BY w ORDER BY n DESC, next_tok) AS rk
           FROM c)
         SELECT w, next_tok, n FROM r WHERE rk = 1 AND n >= 10""",

    "q108_ratio_report" ->
      """WITH g AS (SELECT l_returnflag, l_suppkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
           FROM lineitem GROUP BY 1, 2)
         SELECT l_returnflag, l_suppkey, sq,
           CAST(SUM(sq) OVER (PARTITION BY l_returnflag) AS BIGINT) AS flag_total,
           CAST((sq * 1000000) //
             SUM(sq) OVER (PARTITION BY l_returnflag) AS BIGINT) AS share_ppm
         FROM g""",

    "q109_mad" ->
      """WITH li AS (SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS v
           FROM lineitem),
         m AS (SELECT grp, percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS med
           FROM li GROUP BY grp),
         d AS (SELECT li.grp, ABS(v - med) AS dd FROM li JOIN m ON li.grp = m.grp)
         SELECT grp,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dd) AS BIGINT) AS mad
         FROM d GROUP BY grp""",

    "q104_oov_rate" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksLower) AS w FROM documents),
         cu AS (SELECT w, COUNT(*) AS cw FROM toks GROUP BY w),
         v AS (SELECT w FROM cu ORDER BY cw DESC, w LIMIT 30),
         j AS (SELECT t.doc_id, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
               FROM toks t LEFT JOIN v ON t.w = v.w)
         SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           CAST((SUM(oov) * 1000000) // COUNT(*) AS BIGINT) AS oov_ppm
         FROM j GROUP BY doc_id""",

    "q98_collocations" ->
      s"""WITH t AS (SELECT $toksLower AS tk FROM documents),
         cu AS (SELECT w, COUNT(*) AS cw FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w),
         n AS (SELECT CAST(SUM(cw) AS BIGINT) AS n_tokens FROM cu),
         idx AS (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM t),
         cb AS (SELECT w1, w2, COUNT(*) AS cxy
                FROM (SELECT tk[i] AS w1, tk[i+1] AS w2 FROM idx)
                GROUP BY w1, w2 HAVING COUNT(*) >= 20),
         sc AS (SELECT cb.w1, cb.w2, cb.cxy,
                  CAST((cb.cxy * n.n_tokens * 1000000) // (c1.cw * c2.cw) AS BIGINT)
                    AS pmi_scaled
                FROM cb CROSS JOIN n
                JOIN cu c1 ON cb.w1 = c1.w
                JOIN cu c2 ON cb.w2 = c2.w),
         r AS (SELECT w1, w2, cxy, pmi_scaled,
                 ROW_NUMBER() OVER (ORDER BY pmi_scaled DESC, w1, w2) AS rk
               FROM sc)
         SELECT w1, w2, CAST(cxy AS BIGINT) AS cxy, pmi_scaled,
                CAST(rk AS INTEGER) AS rk
         FROM r WHERE rk <= 50""",

    "q71_kmeans" ->
      """WITH q AS (SELECT vec_id AS vid,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS qv
           FROM embeddings),
         c0 AS (SELECT vid AS cid, qv AS cv FROM q WHERE vid < 8),
         a1 AS (SELECT vid, cid FROM (
             SELECT q.vid, c0.cid, ROW_NUMBER() OVER (PARTITION BY q.vid ORDER BY
               (SELECT SUM((x - y) * (x - y))
                FROM (SELECT unnest(q.qv) AS x, unnest(c0.cv) AS y) z) ASC, c0.cid) AS rn
             FROM q, c0) WHERE rn = 1),
         d1 AS (SELECT a1.cid, q.qv, unnest(generate_series(1, len(q.qv))) AS i
                FROM a1 JOIN q USING (vid)),
         p1 AS (SELECT cid, i,
                  CAST(floor(CAST(SUM(qv[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cval
                FROM d1 GROUP BY cid, i),
         c1 AS (SELECT cid, list(cval ORDER BY i) AS cv FROM p1 GROUP BY cid),
         a2 AS (SELECT vid, cid FROM (
             SELECT q.vid, c1.cid, ROW_NUMBER() OVER (PARTITION BY q.vid ORDER BY
               (SELECT SUM((x - y) * (x - y))
                FROM (SELECT unnest(q.qv) AS x, unnest(c1.cv) AS y) z) ASC, c1.cid) AS rn
             FROM q, c1) WHERE rn = 1)
         SELECT vid AS vec_id, cid AS cluster FROM a2""",

    "q72_fuzzy_join" ->
      """SELECT a.p_brand, a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
         WHERE levenshtein(a.p_name, b.p_name) <= 4""",

    "q73_cdc_apply" ->
      """SELECT key, seq, op, price, status FROM (
           SELECT o_custkey AS key, o_orderkey AS seq,
             CASE WHEN o_orderkey % 10 < 2 THEN 'D' ELSE 'U' END AS op,
             o_totalprice AS price, o_orderstatus AS status,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY o_orderkey DESC,
                 CASE WHEN o_orderkey % 10 < 2 THEN 'D' ELSE 'U' END ASC) AS rn
           FROM orders) WHERE rn = 1 AND op <> 'D'""",

    "q74_heavy_hitters" ->
      """WITH c AS (SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey),
         t AS (SELECT COUNT(*) AS total FROM lineitem)
         SELECT l_suppkey, n, CAST(rank AS BIGINT) AS rank,
           CAST(floor(n * 1000.0 / total) AS BIGINT) AS share_permille
         FROM (SELECT l_suppkey, n,
                 ROW_NUMBER() OVER (ORDER BY n DESC, l_suppkey) AS rank FROM c), t
         WHERE rank <= 20""",

    "q75_compaction" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey <= 300""",

    "q76_incremental_snapshot" ->
      """SELECT key, seq, op, price, status FROM (
           SELECT o_custkey AS key, o_orderkey AS seq,
             CASE WHEN o_orderkey % 10 < 2 THEN 'D' ELSE 'U' END AS op,
             o_totalprice AS price, o_orderstatus AS status,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY o_orderkey DESC,
                 CASE WHEN o_orderkey % 10 < 2 THEN 'D' ELSE 'U' END ASC) AS rn
           FROM orders) WHERE rn = 1 AND op <> 'D'""",

    "q77_orc_roundtrip" ->
      """SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS nation
         FROM supplier WHERE s_suppkey % 2 = 0""",

    "q111_fixed_width" ->
      """SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS nation
         FROM supplier""",

    "q103_jsonl_roundtrip" ->
      """SELECT lang, source, COUNT(*) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE n_chars > 100 GROUP BY 1, 2""",

    "q100_schema_evolution" ->
      """SELECT s_suppkey, s_name,
           CASE WHEN s_suppkey % 2 = 1 THEN CAST(s_nationkey AS BIGINT)
                ELSE NULL END AS nation
         FROM supplier""",

    "q96_sliding_window" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           COUNT(*) OVER w AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) OVER w AS DOUBLE) AS sum_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",

    "q97_winsorize" ->
      """WITH e AS (SELECT event_type, CAST(value AS DECIMAL(14,2)) AS v FROM events),
         b AS (SELECT event_type,
             percentile_disc(0.05) WITHIN GROUP (ORDER BY v) AS lo,
             percentile_disc(0.95) WITHIN GROUP (ORDER BY v) AS hi
           FROM e GROUP BY event_type),
         c AS (SELECT e.event_type,
             CASE WHEN v < lo THEN lo WHEN v > hi THEN hi ELSE v END AS vw
           FROM e JOIN b ON e.event_type = b.event_type)
         SELECT event_type, COUNT(*) AS n,
           CAST(SUM(vw) AS DOUBLE) AS sum_w,
           CAST(MIN(vw) AS DOUBLE) AS min_w,
           CAST(MAX(vw) AS DOUBLE) AS max_w
         FROM c GROUP BY event_type""",

    "q95_partitioned_update" ->
      """SELECT o_orderstatus,
           CASE WHEN o_orderstatus = 'F' THEN 'DONE' ELSE o_orderpriority END
             AS o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY 1, 2""",

    "q90_version_diff" ->
      """WITH before_v AS (
           SELECT c_custkey AS key, c_name AS name,
             CAST(CAST(c_acctbal AS DECIMAL(14,2)) AS DOUBLE) AS acctbal
           FROM customer WHERE c_custkey <= 200),
         after_v AS (
           SELECT c_custkey AS key, c_name AS name,
             CAST(CAST(c_acctbal AS DECIMAL(14,2)) +
               CASE WHEN c_custkey >= 101 THEN 100 ELSE 0 END AS DOUBLE) AS acctbal
           FROM customer WHERE c_custkey <= 250 AND c_custkey % 7 <> 0)
         SELECT COALESCE(a.key, b.key) AS key,
           COALESCE(a.name, b.name) AS name,
           COALESCE(a.acctbal, b.acctbal) AS acctbal,
           CASE WHEN b.key IS NULL THEN 'insert'
                WHEN a.key IS NULL THEN 'delete'
                ELSE 'update' END AS change_type
         FROM before_v b FULL JOIN after_v a ON b.key = a.key
         WHERE b.key IS NULL OR a.key IS NULL
            OR a.acctbal <> b.acctbal OR a.name <> b.name""",

    "q78_zorder" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_orderkey <= 20000""",

    "q79_percentile_cont" ->
      """SELECT l_returnflag,
           percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS p50,
           percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity) AS p75
         FROM lineitem GROUP BY l_returnflag""",

    "q80_normalize" ->
      """SELECT doc_id,
           TRIM(regexp_replace(
             translate(lower(text || '  RÉSUMÉ  Café' || chr(9) || 'Niño  à-la-carte ' || CAST(doc_id AS VARCHAR)),
               'áàâäãåéèêëíìîïóòôöõúùûüçñý', 'aaaaaaeeeeiiiiooooouuuucny'),
             '\s+', ' ', 'g')) AS norm
         FROM documents""",

    "q81_incremental_agg" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY o_orderstatus""",

    "q82_listagg" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS nation,
           string_agg(s_name, ',' ORDER BY s_name) AS names
         FROM supplier GROUP BY s_nationkey""")
}
