package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{Corpus, Dedup}

/** Round-4 behaviors: bitmap-word exact distinct, null-safe join,
  * positional phrase search, containment dedup asymmetry,
  * sorted-neighborhood pair generation, trailing-anomaly flag. Each
  * registered query is driven at sf0.001 and checked against a naive
  * reformulation of the same semantics. */
class Round4OpsSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("q161 bitmap-word distinct == COUNT(DISTINCT) per day") {
    val got = SparkEntry.queries("q161_bitmap_distinct")(spark, sf)
      .orderBy("d").collect().map(r => (r.getString(0), r.getLong(1)))
    val want = Queries.events(spark, sf)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("d").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.nonEmpty && got.sameElements(want))
  }

  test("q165 null-safe join keeps NULL==NULL rows a plain equi join drops") {
    val out = SparkEntry.queries("q165_nullsafe_join")(spark, sf)
    val nullRow = out.filter(col("k").isNull).collect()
    assert(nullRow.length == 1, "exactly one NULL-key group must survive")
    val expectedNullCount = Queries.events(spark, sf)
      .filter(col("event_id") % 10 === 0).count()
    assert(nullRow.head.getLong(1) == expectedNullCount)
    // a plain equi join on the same key drops every NULL-key row
    val keyed = Queries.events(spark, sf).select(
      when(col("event_id") % 10 === 0, lit(null))
        .otherwise(col("user_id")).cast("long").as("k"),
      col("event_id"))
    val plain = keyed.join(keyed.select(col("k").as("dk")).distinct(),
      col("k") === col("dk"))
    assert(plain.filter(col("k").isNull).count() == 0)
  }

  test("phraseSearch counts only ADJACENT occurrences, including repeats") {
    val docs = Seq(
      (1L, "alpha beta gamma"), // one occurrence
      (2L, "alpha beta alpha beta"), // two occurrences
      (3L, "alpha gamma beta"), // both terms, not adjacent
      (4L, "beta alpha"), // reversed order
      (5L, "")).toDF("id", "text")
    val got = Corpus.phraseSearch(docs, "id", "text", Seq("alpha", "beta"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L))
    // three-term phrase: the fold chains a join per extra term
    val tri = Corpus.phraseSearch(docs, "id", "text",
        Seq("alpha", "beta", "gamma"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(tri == Map(1L -> 1L))
  }

  test("containment keeps a sub-document pair symmetric Jaccard rejects") {
    // b is a strict substring of a: containment (inter / min-size) is
    // 100%, symmetric Jaccard (inter / union) is far lower
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy sleeping dog tonight"),
      (2L, "quick brown fox")).toDF("id", "text")
    val terms = Dedup.charNgramTerms(docs, "id", "text", 3)
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val scored = Dedup.pairJaccardTerms(terms, pairs).collect().head
    val inter = scored.getAs[Long]("inter")
    val sa = scored.getAs[Long]("size_a")
    val sb = scored.getAs[Long]("size_b")
    assert(inter * 100 >= math.min(sa, sb) * 70, "containment accepts")
    assert(inter * 10 < (sa + sb - inter) * 7, "Jaccard@0.7 rejects")
  }

  test("q167 sorted-neighborhood emits each rank-window pair exactly once") {
    val got = SparkEntry.queries("q167_sorted_neighborhood")(spark, sf)
      .select("id_a", "id_b", "gap").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == got.distinct.length, "no duplicate pairs")
    // naive single-window formulation over the same table
    val ranked = Queries.table(spark, sf, "documents")
      .select(col("doc_id"), col("n_chars"))
      .withColumn("seq", row_number().over(
        Window.orderBy(col("n_chars"), col("doc_id"))).cast("long") - 1L)
    val want = ranked.alias("a").join(ranked.alias("b"),
        col("b.seq") > col("a.seq") && col("b.seq") <= col("a.seq") + 2L)
      .select(col("a.doc_id"), col("b.doc_id"),
        (col("b.seq") - col("a.seq")).as("gap"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet == want.toSet && got.length == want.length)
  }

  test("session_window closes exactly at the gap boundary") {
    // events at 0, 9:59, then 19:59 → one session (each silence < 10m);
    // the next at 29:59 + 10:00 = 39:59 exactly AT the gap → new session
    val ts = Seq(0L, 599L, 1199L, 1799L + 600L).map(_ * 1000000L)
    val df = ts.map(t => (1L, t)).toDF("user_id", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val sessions = df
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("s"),
        unix_micros(col("w.end")).as("e"), col("n"))
      .orderBy("s").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sessions.length == 2)
    assert(sessions(0) == (0L, (1199L + 600L) * 1000000L, 3L))
    assert(sessions(1) == (2399L * 1000000L, (2399L + 600L) * 1000000L, 1L))
  }

  test("variant typed extraction matches string JSON-path extraction") {
    val got = SparkEntry.queries("q168_variant_shred")(spark, sf)
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = Queries.events(spark, sf)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("event_id"))
      .groupBy("k").agg(count(lit(1)).as("n"), sum("event_id").as("sum_id"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), 0L))
    assert(got.nonEmpty && got.sameElements(want))
  }

  test("bucketChecksumDiff flags exactly the corrupted buckets") {
    val a = (0L until 1000L).map(i => (i, s"payload-$i", i * 3L))
      .toDF("k", "s", "v")
    // identical copy → no mismatches
    assert(graft.operators.Cdc.bucketChecksumDiff(a, a, "k", 16)
      .count() == 0)
    // field flip on k=517 (bucket 5), row dropped at k=100 (bucket 4)
    val b = a.filter(col("k") =!= 100L)
      .withColumn("v", when(col("k") === 517L, lit(-1L)).otherwise(col("v")))
    val got = graft.operators.Cdc.bucketChecksumDiff(a, b, "k", 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((5L, 63L, 63L), (4L, 63L, 62L)))
  }

  test("left-outer stream-stream join flushes unmatched rows on watermark passage") {
    val dir = tempDir("souter")
    def write(rows: Seq[(Long, Long, Long, String)]): Unit =
      rows.map { case (id, tsSec, uid, typ) =>
        (id, tsSec * 1000000000L, uid, typ, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    val t0 = 1700000000L
    // P1 matched by C2 within 30 min; P3 never matched
    write(Seq((1L, t0, 1L, "purchase"), (2L, t0 + 300L, 1L, "click"),
      (3L, t0, 2L, "purchase")))
    val q = streaming.EventStream
      .purchaseClickLeftOuter(spark, dir, glob = "*.parquet")
      .writeStream.outputMode("append").format("memory")
      .queryName("souter_sink").start()
    try {
      q.processAllAvailable()
      val phase1 = spark.table("souter_sink").collect()
        .map(r => (r.getLong(0), r.get(1))).toSet
      assert(phase1 == Set((1L, 2L)), s"inner match only, got $phase1")
      // tail batch advances BOTH sides' watermarks far past P3's
      // horizon; the sentinels cannot match each other (click first)
      write(Seq((90L, t0 + 36000L, 99L, "click"),
        (91L, t0 + 40000L, 99L, "purchase")))
      q.processAllAvailable()
      // one more batch so the advanced watermark is applied for eviction
      write(Seq((92L, t0 + 40001L, 98L, "noop")))
      q.processAllAvailable()
      val rows = spark.table("souter_sink").collect()
        .map(r => (r.getLong(0), Option(r.get(1))))
      assert(rows.count(_._1 == 3L) == 1, s"P3 flushed exactly once: ${rows.toSeq}")
      assert(rows.find(_._1 == 3L).get._2.isEmpty, "P3 is null-padded")
      assert(rows.count(_._1 == 1L) == 1, "no duplicate inner rows")
    } finally q.stop()
  }

  test("q162 spike flag fires only above 1.5x the trailing-7-day mean") {
    val rows = SparkEntry.queries("q162_trailing_anomaly")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cents = r.getAs[Long]("cents")
      val sumPrev = r.getAs[Long]("sum_prev")
      val nPrev = r.getAs[Long]("n_prev")
      val spike = r.getAs[Boolean]("spike")
      val expected = nPrev > 0 && cents * 10 * nPrev > sumPrev * 15
      assert(spike == expected, s"row $r")
    }
    // first day of every series has no history → never a spike
    assert(rows.filter(_.getAs[Long]("n_prev") == 0)
      .forall(!_.getAs[Boolean]("spike")))
  }

  test("joinDelta maintenance == full recompute, all three delta terms") {
    import graft.operators.MaterializedAgg
    // key 1: base×base only; key 2: ΔA⋈B; key 3: A⋈ΔB; key 4: ΔA⋈ΔB;
    // key 5: in ΔA with no B match at all (must contribute nothing)
    val baseA = Seq((1L, "g1"), (3L, "g1")).toDF("k", "grp")
    val deltaA = Seq((2L, "g2"), (4L, "g2"), (5L, "g2")).toDF("k", "grp")
    val baseB = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    val deltaB = Seq((3L, 30L), (4L, 40L)).toDF("k", "v")
    val v0 = MaterializedAgg.refresh(None, baseA.join(baseB, Seq("k")),
      Seq("grp"), Seq("v"))
    val got = MaterializedAgg.refresh(Some(v0),
        MaterializedAgg.joinDelta(baseA, deltaA, baseB, deltaB, Seq("k")),
        Seq("grp"), Seq("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val full = MaterializedAgg.refresh(None,
        baseA.unionByName(deltaA).join(baseB.unionByName(deltaB), Seq("k")),
        Seq("grp"), Seq("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == full)
    assert(got == Set(("g1", 2L, 40L), ("g2", 2L, 60L)))
  }

  test("setOpSketch: below capacity everything is exact; formulas hold") {
    import graft.operators.Sketches
    val a = (1L to 40L).toDF("v")
    val b = (21L to 60L).toDF("v") // overlap 21..40 → |∩|=20, |∪|=60
    val r = Sketches.setOpSketch(spark, a, b, "v", k = 128).collect().head
    assert(r.getAs[Long]("est_a") == 40 && r.getAs[Long]("est_b") == 40)
    assert(r.getAs[Long]("est_union") == 60)
    assert(r.getAs[Long]("n_union_sketch") == 60)
    assert(r.getAs[Long]("inter_in_sketch") == 20)
    assert(r.getAs[Long]("jacc_permille") == 20L * 1000 / 60)
    assert(r.getAs[Long]("est_intersection") == 20)
  }

  test("setOpSketch: at capacity the estimate tracks truth, k bounds state") {
    import graft.operators.Sketches
    val a = (1L to 2000L).toDF("v")
    val b = (1001L to 3000L).toDF("v") // truth: union 3000, jacc 1/3
    val r = Sketches.setOpSketch(spark, a, b, "v", k = 256).collect().head
    assert(r.getAs[Long]("n_union_sketch") == 256) // capped buffer
    val estU = r.getAs[Long]("est_union")
    assert(estU > 2000 && estU < 4500, s"est_union=$estU") // ±50% band
    val jp = r.getAs[Long]("jacc_permille")
    assert(jp > 166 && jp < 666, s"jacc_permille=$jp") // truth 333
    // internal consistency regardless of estimation error
    assert(jp == r.getAs[Long]("inter_in_sketch") * 1000 / 256)
  }

  test("q177 runtime-prunes the fact scan through the dim-side filter") {
    val df = SparkEntry.queries("q177_dpp_join")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the year predicate reaches the month-partitioned fact scan only
    // via the joined dimension → a dynamicpruning partition filter
    assert(plan.contains("dynamicpruning"), s"no DPP in plan:\n$plan")
  }

  test("q178 confusion counts are internally consistent and non-trivial") {
    val r = SparkEntry.queries("q178_lsh_quality")(spark, sf).collect().head
    val (nt, np, tp, fp, fn) = (r.getAs[Long]("n_true"),
      r.getAs[Long]("n_pred"), r.getAs[Long]("tp"), r.getAs[Long]("fp"),
      r.getAs[Long]("fn"))
    assert(tp + fp == np && tp + fn == nt)
    assert(nt > 0 && np > 0) // evaluation sample actually discriminates
    assert(r.getAs[Long]("prec_permille") == tp * 1000 / np)
    assert(r.getAs[Long]("rec_permille") == tp * 1000 / nt)
  }

  test("runtime bloom filter injects might_contain on the probe side") {
    // row-level sibling of q177's partition-level DPP: with both fact
    // sides too big to broadcast, Spark builds a bloom filter from the
    // selective dim side and injects a might_contain prefilter into
    // the probe scan — rows drop before the shuffle, not after it.
    GraftSession.withConf(spark,
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val dir = "/root/testdata/sf0.001"
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val o = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("might_contain"), s"no runtime bloom:\n$plan")
    }
  }

  test("multimodal feature-extract and resize stubs: shape and edges") {
    import graft.operators.Multimodal
    val df = Seq((1L, "abcdefghijklmnopqrst"), (2L, "xy"), (3L, ""))
      .toDF("doc_id", "text")
    val bin = Multimodal.attachBinary(df, "doc_id", "text")
    val feats = Multimodal.extractFeatures(bin, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // doc 1 (20 bytes): buckets 0..3 see two bytes, 4..15 one
    assert(feats((1L, 0L)) == 'a'.toLong + 'q'.toLong)
    assert(feats((1L, 4L)) == 'e'.toLong)
    // doc 2 (2 bytes): only buckets 0 and 1 exist
    assert(feats((2L, 0L)) == 'x'.toLong && feats((2L, 1L)) == 'y'.toLong)
    assert(!feats.contains((2L, 2L)))
    // empty payload: no rows at all
    assert(!feats.keys.exists(_._1 == 3L))

    val rs = Multimodal.resizeStub(bin, w = 4, h = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rs.keySet == Set(1L, 2L, 3L)) // one row per item, total op
    assert(rs(3L) == 0L) // empty payload → zero checksum
    // deterministic: same input, same checksum
    val rs2 = Multimodal.resizeStub(bin, w = 4, h = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rs == rs2)
  }

  test("quarantine read: typed goods, raw bad lines, nothing dropped") {
    import org.apache.spark.sql.types._
    val dir = tempDir("quar")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.csv"),
      ("id,name,score\n" +
        "1,alice,2.50\n" +
        "oops\n" +
        "2,bob,notanumber\n" +
        "3,carol,4.25\n").getBytes("UTF-8"))
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType),
      StructField("score", DecimalType(6, 2))))
    val (good, bad) = graft.sources.CsvStageReader.readWithQuarantine(
      spark, Seq(dir), sch)
    val g = good.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(g == Set((1L, "alice"), (3L, "carol")))
    val b = bad.as[String].collect().toSet
    // quarantined rows carry their ORIGINAL line for repair/replay
    assert(b == Set("oops", "2,bob,notanumber"))
  }

  test("leakage split: a near-dup cluster never straddles the boundary") {
    val rows = SparkEntry.queries("q192_leakage_split")(spark, sf)
    val straddling = rows.groupBy(col("component"))
      .agg(countDistinct(col("split")).as("sides"))
      .filter(col("sides") > 1).count()
    assert(straddling == 0)
    val splits = rows.select("split").distinct().as[String].collect().toSet
    assert(splits.subsetOf(Set("train", "test")) && splits.nonEmpty)
  }

  test("transformWithState running totals accumulate across batches") {
    import graft.streaming.StatefulCounters
    import graft.streaming.StatefulCounters.Tick
    val dir = tempDir("twscnt")
    Seq(Tick(1L, 10L, 1L), Tick(1L, 5L, 2L), Tick(2L, 7L, 3L))
      .toDF().coalesce(1).write.mode("append").parquet(dir)
    val out1 = StatefulCounters.runToCompletion(spark, dir, "tws_t1")
    // update-mode memory sink: last row per key is the running total
    val last1 = out1.groupBy(col("key"))
      .agg(max(struct(col("n"), col("total"))).as("s"))
      .select(col("key"), col("s.n"), col("s.total"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(last1 == Map(1L -> (2L, 15L), 2L -> (1L, 7L)))

    // more files: a fresh run over all files folds everything, and a
    // key untouched by later data keeps its totals
    Seq(Tick(1L, 100L, 4L), Tick(3L, 1L, 5L))
      .toDF().coalesce(1).write.mode("append").parquet(dir)
    val out2 = StatefulCounters.runToCompletion(spark, dir, "tws_t2")
    val last2 = out2.groupBy(col("key"))
      .agg(max(struct(col("n"), col("total"))).as("s"))
      .select(col("key"), col("s.n"), col("s.total"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(last2 == Map(1L -> (3L, 115L), 2L -> (1L, 7L), 3L -> (1L, 1L)))
  }
}
