package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Queries.table

/** Round-8 queries: streaming admission control, OCC conflict
  * resolution (rebase), DV-aware columnar decode, scan partition
  * sizing, O(1)-plan partitioned reads, target file size on write,
  * change-data-feed surfaces, and SQL schema evolution. Same contract
  * as [[Queries]]: every entry is oracle-gated via
  * [[QueriesRound8.oracles]]. */
object QueriesRound8 {

  /** Storage-partitioned joins: DSv2 bucketing on, the connector keeps
    * its data grouping, and no broadcast to plan around it. */
  private val spjConfs = Seq(
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.graft.preserveDataGrouping" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- streaming ADMISSION CONTROL (SupportsAdmissionControl +
    //      maxFilesPerTrigger): a capped stream drains a 6-commit
    //      backlog in BOUNDED micro-batches — the week-old-checkpoint
    //      catch-up over a 100 TB table plans O(cap) files per
    //      trigger, not the whole backlog as one giant batch. The
    //      batch COUNT (>1, each ≤ cap) is hashed evidence; the sink
    //      still converges to exactly the full relation
    //      (exactly-once under bounded admission). ----
    "q253_admission_control" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val work = graft.Scratch.dir("graft_admit")
      val cat = new graft.catalog.TableCatalog(s, work)
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val t = "D.S.ADMIT"
      // 6 single-file commits = a backlog of 6 files
      (0 until 6).foreach { i =>
        val slice = o.filter(col("o_orderkey") % 6 === i).coalesce(1)
        if (i == 0) cat.overwrite(t, slice) else cat.append(t, slice)
      }
      val sizes = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
      val q = graft.streaming.Tuning.withLeanCheckpoints(s) {
        s.readStream.format("graft")
          .option("root", work).option("table", t)
          .option("maxFilesPerTrigger", "2").load()
          .writeStream
          .foreachBatch { (df: DataFrame, _: Long) => sizes.add(df.count()); () }
          .option("checkpointLocation", s"$work/ckpt")
          .trigger(Trigger.AvailableNow()).start()
      }
      q.awaitTermination(180000)
      val batches = {
        val b = Seq.newBuilder[Long]
        val it = sizes.iterator(); while (it.hasNext) b += it.next(); b.result()
      }.filter(_ > 0)
      val bounded = batches.size >= 3 // 6 files / cap 2
      import s.implicits._
      Seq((batches.sum, bounded)).toDF("n", "bounded_batches")
    }),

    // ---- scan partition sizing: task count tracks BYTES, not file
    //      count — Spark's own split model applied to the connector.
    //      One oversized file (many small row groups) splits into >1
    //      tasks at row-group seams with zero rows lost at the seams;
    //      16 tiny files coalesce into fewer bin-packed tasks while
    //      every file is still scheduled (slices). At 100 TB this is
    //      the difference between a task per manifest-chain filelet
    //      and a right-sized stage. Both plan facts hash into the
    //      oracle result. ----
    "q254_scan_sizing" -> ((s, dir) => {
      import s.implicits._
      val work = graft.Scratch.dir("graft_sizing")
      val cat = new graft.catalog.TableCatalog(s, work)
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val hc = s.sparkContext.hadoopConfiguration
      val oldBlock = Option(hc.get("parquet.block.size"))
      hc.setInt("parquet.block.size", 64 * 1024) // many small row groups
      try cat.overwrite("D.S.SIZBIG", li.coalesce(1)) // ONE big file
      finally oldBlock match {
        case Some(v) => hc.set("parquet.block.size", v)
        case None    => hc.unset("parquet.block.size")
      }
      // MORE files than cores: Spark's bytesPerCore model only packs
      // once the file count exceeds the parallelism (below that it
      // deliberately spreads tiny files across idle cores)
      cat.overwrite("D.S.SIZTINY",
        li.filter(col("l_orderkey") % 50 === 0).repartition(64)) // 64 tiny
      GraftSession.withConf(s, "spark.sql.files.maxPartitionBytes" -> "262144",
          "spark.sql.files.openCostInBytes" -> "16") {
        def rd(t: String) = s.read.format("graft")
          .option("root", work).option("table", t).load()
        val big = rd("D.S.SIZBIG").agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"))
        val rBig = big.collect()(0)
        val bigSplit = graft.connector.GraftPlanInspect.scanTasksOf(big) > 1
        // count(col), not count(*): a bare COUNT(*) would answer from
        // metadata (aggregate pushdown — one synthetic partition) and
        // prove nothing about scan sizing
        val tiny = rd("D.S.SIZTINY").agg(count(col("l_orderkey")).as("n2"))
        val rTiny = tiny.collect()(0)
        val tinyTasks = graft.connector.GraftPlanInspect.scanTasksOf(tiny)
        val tinySlices = graft.connector.GraftPlanInspect.scanPartitionsOf(tiny)
        Seq((rBig.getLong(0), rBig.getDouble(1), bigSplit,
            rTiny.getLong(0), tinySlices == 64 && tinyTasks < 64))
          .toDF("n", "sum_qty", "big_split", "n_tiny", "tiny_packed")
      }
    }),

    // ---- CHANGE DATA FEED: the per-commit row changes of a table as
    //      a distributed scan (file adds → insert slices, new DV
    //      entries → keepOnly delete slices — no exceptAll, no
    //      snapshot diffs, O(changed bytes)). The feed reconstructs
    //      the live table exactly: inserts minus deletes == read(t),
    //      hashed against the oracle's equivalent transform; the SQL
    //      `t@changes(a,b)` identifier answers the same feed
    //      (sql_matches hashed). ----
    "q255_change_feed" -> ((s, dir) => {
      val work = graft.Scratch.dir("graft_cdf")
      val cat = new graft.catalog.TableCatalog(s, work)
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val t = "D.S.CDFQ"
      cat.overwrite(t, o.filter(col("o_orderkey") % 2 === 0).repartition(2))
      cat.append(t, o.filter(col("o_orderkey") % 2 === 1).repartition(2))
      cat.deleteWhereDV(t, col("o_custkey") % 7 === 0)
      val cdf = s.read.format("graft")
        .option("root", work).option("table", t)
        .option("readChangeFeed", "true").load()
      val ins = cdf.filter(col("_change_type") === "insert")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val dels = cdf.filter(col("_change_type") === "delete")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val state = ins.exceptAll(dels)
      // the reconstructed state matches the live read EXACTLY — bag
      // equality in one shuffle (see Evidence.bagEquals) instead of
      // two exceptAll counts (four shuffles, two jobs)
      val live = cat.read(t)
      val matches = graft.util.Evidence.bagEquals(state, live)
      // SQL surface answers the same feed
      val cname = "gcdfq_" + work.replaceAll("[^A-Za-z0-9]", "").takeRight(12)
      s.conf.set(s"spark.sql.catalog.$cname", "graft.connector.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cname.root", work)
      val sqlN = s.sql(s"SELECT count(*) AS n FROM $cname.D.S.`CDFQ@changes(0,2)`")
        .head().getLong(0)
      val sqlMatches = sqlN == cdf.count()
      state.groupBy((col("o_orderkey") % 3).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
            .as("sum_price"))
        .withColumn("reconstructs", lit(matches))
        .withColumn("sql_matches", lit(sqlMatches))
    }),

    // ---- SQL SCHEMA EVOLUTION: ALTER TABLE ADD COLUMNS declares a
    //      column in the vacuum-proof `_SCHEMAS/` sidecar + a metadata
    //      commit — zero data bytes touched; existing rows read NULL,
    //      the next INSERT carries values, and the aggregate over the
    //      evolved table hashes against the oracle (count(tier) counts
    //      only post-evolution rows). ----
    "q256_sql_evolution" -> ((s, dir) => {
      val work = graft.Scratch.dir("graft_sqlevo")
      val cname = "gevo_" + work.replaceAll("[^A-Za-z0-9]", "").takeRight(12)
      s.conf.set(s"spark.sql.catalog.$cname", "graft.connector.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cname.root", work)
      table(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .createOrReplaceTempView("q256_src")
      s.sql(s"CREATE TABLE $cname.d.s.nat AS SELECT * FROM q256_src")
      s.sql(s"ALTER TABLE $cname.d.s.nat ADD COLUMNS (tier STRING)")
      s.sql(s"""INSERT INTO $cname.d.s.nat
               SELECT n_nationkey + 100, n_name, n_regionkey, 'gold'
               FROM q256_src WHERE n_nationkey < 5""")
      s.sql(s"""SELECT n_regionkey, count(*) AS n,
               CAST(count(tier) AS BIGINT) AS n_tier
             FROM $cname.d.s.nat GROUP BY n_regionkey""")
    }),

    // ---- STORAGE-PARTITIONED JOIN: two graft tables hive-partitioned
    //      on the join key report KeyGroupedPartitioning (opt-in via
    //      spark.graft.preserveDataGrouping, Iceberg's shape), so the
    //      equi-join plans with ZERO shuffle and ZERO broadcast on
    //      either side — the co-located fact-fact join at 100 TB
    //      without pre-bucketing. zero_shuffle (no exchange in any
    //      join subtree) is hashed evidence; values match the oracle's
    //      plain join. ----
    "q257_spj" -> ((s, dir) => {
      val work = graft.Scratch.dir("graft_spj")
      val cat = new graft.catalog.TableCatalog(s, work)
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      cat.overwritePartitioned("D.S.SPJFACT",
        li.repartition(col("l_returnflag")), Seq("l_returnflag"))
      cat.overwritePartitioned("D.S.SPJDIM",
        li.groupBy("l_returnflag").agg(count(lit(1)).as("flag_rows"))
          .repartition(col("l_returnflag")), Seq("l_returnflag"))
      GraftSession.withConf(s, spjConfs: _*) {
        def rd(t: String) = s.read.format("graft")
          .option("root", work).option("table", t).load()
        val j = rd("D.S.SPJFACT").join(rd("D.S.SPJDIM"), "l_returnflag")
        val agg = j.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
              .as("sum_qty"),
            max("flag_rows").as("flag_rows"))
        val rows = agg.collect()
        val zeroShuffle = graft.connector.GraftPlanInspect.joinExchangeFree(agg)
        s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq, 1),
            agg.schema)
          .withColumn("zero_shuffle", lit(zeroShuffle))
      }
    }),

    // ---- BUCKETED TABLES: identity partitioning on a join key stops
    //      working when the key is high-cardinality (a dir per value);
    //      bucket(n, key) — Iceberg's bucket transform — is the 100 TB
    //      co-location story. Rows hash into n hive dirs via
    //      pmod(murmur3_42(key), n); the scan reports the bucket
    //      TRANSFORM (resolved by the catalog's V2 `bucket` function),
    //      so two tables bucketed the same way equi-join with ZERO
    //      exchange at ANY key cardinality (zero_shuffle hashed). A
    //      point predicate on the key hashes to ONE bucket dir —
    //      bucket_pruned proves the scan opened 1/n of the layout
    //      before stats even ran. ----
    "q259_bucketed_join" -> ((s, dir) => {
      val work = graft.Scratch.dir("graft_bkt")
      val cat = new graft.catalog.TableCatalog(s, work)
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      cat.overwriteBucketed("D.S.BKTFACT", li, "l_orderkey", 8)
      cat.overwriteBucketed("D.S.BKTDIM", o, "o_orderkey", 8)
      // SQL-catalog reads: the bucket TRANSFORM resolves against the
      // relation's FunctionCatalog — only catalog-loaded relations
      // carry one, so SPJ over bucketed layouts is a catalog surface
      val cname = "gbkt_" + work.replaceAll("[^A-Za-z0-9]", "").takeRight(12)
      s.conf.set(s"spark.sql.catalog.$cname", "graft.connector.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cname.root", work)
      GraftSession.withConf(s, spjConfs: _*) {
        def rd(t: String) = s.read.table(s"$cname.D.S.$t")
        val j = rd("BKTFACT")
          .join(rd("BKTDIM"), col("l_orderkey") === col("o_orderkey"))
        val agg = j.groupBy((col("l_orderkey") % 5).as("bucket"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
              .as("sum_qty"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
              .as("sum_price"))
        val rows = agg.collect()
        val zeroShuffle = graft.connector.GraftPlanInspect.joinExchangeFree(agg)
        // key lookup opens ONE bucket's files, not the whole layout
        val total = cat.dataFilePaths("D.S.BKTFACT").size
        val point = rd("BKTFACT").filter(col("l_orderkey") === 1L)
        point.collect()
        val pruned =
          graft.connector.GraftPlanInspect.scanPartitionsOf(point) < total
        s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq, 1),
            agg.schema)
          .withColumn("zero_shuffle", lit(zeroShuffle))
          .withColumn("bucket_pruned", lit(pruned))
      }
    }),

    // ---- COMPOSITE LAYOUT: PARTITIONED BY (flag, bucket(4, key)) —
    //      the canonical 100 TB fact layout: coarse identity pruning
    //      AND key co-location in ONE layout. A join on (flag, key)
    //      between two tables laid out the same way plans with zero
    //      exchange (zero_shuffle hashed); a (flag, key) point
    //      predicate prunes the identity partition FIRST, then hashes
    //      into the one bucket dir inside it (composed_prune hashed:
    //      point scan < flag-only scan < full layout). ----
    "q260_composite_layout" -> ((s, dir) => {
      val work = graft.Scratch.dir("graft_comp")
      val cat = new graft.catalog.TableCatalog(s, work)
      val o = table(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_custkey"), col("o_totalprice"))
      val dm = o.groupBy(col("o_orderpriority").as("rprio"),
          col("o_custkey").as("rkey"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      cat.overwriteBucketed("D.S.COMPFACT", o, "o_custkey", 4,
        partitionCols = Seq("o_orderpriority"))
      cat.overwriteBucketed("D.S.COMPDIM", dm, "rkey", 4,
        partitionCols = Seq("rprio"))
      val cname = "gcomp_" + work.replaceAll("[^A-Za-z0-9]", "").takeRight(12)
      s.conf.set(s"spark.sql.catalog.$cname", "graft.connector.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cname.root", work)
      GraftSession.withConf(s, spjConfs: _*) {
        def rd(t: String) = s.read.table(s"$cname.D.S.$t")
        val j = rd("COMPFACT").join(rd("COMPDIM"),
          col("o_orderpriority") === col("rprio") &&
            col("o_custkey") === col("rkey"))
        val agg = j.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
              .as("sum_price"),
            max("cnt").as("max_cnt"))
        val rows = agg.collect()
        val zeroShuffle = graft.connector.GraftPlanInspect.joinExchangeFree(agg)
        val total = cat.dataFilePaths("D.S.COMPFACT").size
        def scanned(df: org.apache.spark.sql.DataFrame) = {
          df.collect(); graft.connector.GraftPlanInspect.scanPartitionsOf(df)
        }
        val flagScan = scanned(
          rd("COMPFACT").filter(col("o_orderpriority") === "1-URGENT"))
        val pointScan = scanned(rd("COMPFACT")
          .filter(col("o_orderpriority") === "1-URGENT" &&
            col("o_custkey") === 1L))
        val composedPrune = pointScan < flagScan && flagScan < total
        s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq, 1),
            agg.schema)
          .withColumn("zero_shuffle", lit(zeroShuffle))
          .withColumn("composed_prune", lit(composedPrune))
      }
    }),

    // ---- SQL BUCKET DDL: `CREATE TABLE … PARTITIONED BY (bucket(8,
    //      key))` (Iceberg's DDL shape) — the DSv2 writer routes each
    //      row to its bucket dir EXECUTOR-SIDE with the same murmur3
    //      as the catalog writer and the V2 `bucket` function, so a
    //      SQL-only client gets the co-located layout end-to-end:
    //      CTAS + INSERT INTO land bucketed (bucketed_files hashed),
    //      and a key point-lookup opens ~1/8 of the layout
    //      (bucket_pruned hashed). ----
    "q261_sql_bucket_ddl" -> ((s, dir) => {
      val work = graft.Scratch.dir("graft_sqlbkt")
      val cat = new graft.catalog.TableCatalog(s, work)
      val cname = "gsqlb_" + work.replaceAll("[^A-Za-z0-9]", "").takeRight(12)
      s.conf.set(s"spark.sql.catalog.$cname", "graft.connector.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cname.root", work)
      table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .createOrReplaceTempView("q261_src")
      s.sql(s"""CREATE TABLE $cname.d.s.ob
               PARTITIONED BY (bucket(8, o_orderkey))
               AS SELECT * FROM q261_src WHERE o_orderkey % 2 = 0""")
      s.sql(s"""INSERT INTO $cname.d.s.ob
               SELECT * FROM q261_src WHERE o_orderkey % 2 = 1""")
      val files = cat.dataFilePaths("d.s.ob")
      val bucketed = files.count(_.contains("/gbucket=")) >= 8 &&
        files.forall(p =>
          p.contains("/gbucket=") || p.matches(".*/v_\\d{6}/[^/]+$"))
      val point = s.sql(
        s"SELECT * FROM $cname.d.s.ob WHERE o_orderkey = 32")
      point.collect()
      val pruned = graft.connector.GraftPlanInspect.scanPartitionsOf(point) <
        files.count(_.contains("/gbucket="))
      s.sql(s"""SELECT o_orderkey % 4 AS grp, count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
             FROM $cname.d.s.ob GROUP BY 1""")
        .withColumn("bucketed_files", lit(bucketed))
        .withColumn("bucket_pruned", lit(pruned))
    }),

    // ---- PARTITIONED STREAMING SINK: exactly-once streaming ingest
    //      lands DIRECTLY in the hive-partitioned layout (executors
    //      stage per-value files; the epoch commit adopts them with
    //      the same two-layer epoch-tag idempotency as the flat
    //      sink) — no flat landing table + repartition hop, and the
    //      very next query partition-prunes the streamed data.
    //      Evidence: exactly_once (sink count == source relation) and
    //      pruned (a one-value filter schedules fewer files than the
    //      layout holds). ----
    "q258_stream_partitioned_sink" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val work = graft.Scratch.dir("graft_psink")
      val cat = new graft.catalog.TableCatalog(s, work)
      val t = "D.S.PSINK"
      val q = graft.streaming.Tuning.withLeanCheckpoints(s) {
        graft.streaming.EventStream.readStream(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .writeStream.format("graft")
          .option("root", work).option("table", t)
          .option("partitions", "event_type")
          .option("checkpointLocation", s"$work/ckpt")
          .trigger(Trigger.AvailableNow()).start()
      }
      q.awaitTermination(300000)
      val exactlyOnce = cat.count(t) == table(s, dir, "events").count()
      val files = cat.dataFilePaths(t)
      val hiveLayout = files.nonEmpty && files.forall(_.contains("/event_type="))
      val one = cat.read(t).filter(col("event_type") === "click")
      one.collect()
      val pruned =
        graft.connector.GraftPlanInspect.scanPartitionsOf(one) < files.size
      cat.read(t)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 3))).cast("double")
            .as("sum_value"))
        .withColumn("exactly_once", lit(exactlyOnce))
        .withColumn("hive_layout", lit(hiveLayout))
        .withColumn("pruned", lit(pruned))
    }))

  val oracles: Map[String, String] = Map(

    "q253_admission_control" ->
      """SELECT count(*) AS n, TRUE AS bounded_batches FROM orders""",

    "q254_scan_sizing" ->
      """SELECT count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           TRUE AS big_split,
           (SELECT count(*) FROM lineitem WHERE l_orderkey % 50 = 0)
             AS n_tiny,
           TRUE AS tiny_packed
         FROM lineitem""",

    "q255_change_feed" ->
      """SELECT o_orderkey % 3 AS bucket,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           TRUE AS reconstructs,
           TRUE AS sql_matches
         FROM orders
         WHERE o_custkey % 7 <> 0
         GROUP BY 1""",

    "q256_sql_evolution" ->
      """SELECT n_regionkey,
           CAST(count(*) + count(*) FILTER (WHERE n_nationkey < 5)
             AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE n_nationkey < 5) AS BIGINT) AS n_tier
         FROM nation
         GROUP BY 1""",

    "q257_spj" ->
      """SELECT l_returnflag,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS flag_rows,
           TRUE AS zero_shuffle
         FROM lineitem
         GROUP BY 1""",

    "q261_sql_bucket_ddl" ->
      """SELECT o_orderkey % 4 AS grp,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           TRUE AS bucketed_files,
           TRUE AS bucket_pruned
         FROM orders
         GROUP BY 1""",

    "q260_composite_layout" ->
      """SELECT o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           max(cnt) AS max_cnt,
           TRUE AS zero_shuffle,
           TRUE AS composed_prune
         FROM orders
         JOIN (SELECT o_orderpriority AS rprio, o_custkey AS rkey,
                 count(*) AS cnt
               FROM orders GROUP BY 1, 2) d
           ON o_orderpriority = rprio AND o_custkey = rkey
         GROUP BY 1""",

    "q259_bucketed_join" ->
      """SELECT l_orderkey % 5 AS bucket,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           TRUE AS zero_shuffle,
           TRUE AS bucket_pruned
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",

    "q258_stream_partitioned_sink" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value,
           TRUE AS exactly_once, TRUE AS hive_layout, TRUE AS pruned
         FROM events GROUP BY event_type""")
}
