package graft

import org.apache.spark.sql.functions._
import graft.catalog.TableCatalog

class CatalogSpec extends SparkTestBase {
  import spark.implicits._

  test("append creates then accumulates; overwrite replaces") {
    val cat = new TableCatalog(spark, tempDir("cat"))
    val t = "db.sch.t1"
    cat.append(t, Seq((1, "a"), (2, "b")).toDF("id", "v"))
    assert(cat.count(t) == 2)
    cat.append(t, Seq((3, "c")).toDF("id", "v"))
    assert(cat.count(t) == 3)
    cat.overwrite(t, Seq((9, "z")).toDF("id", "v"))
    assert(cat.read(t).as[(Int, String)].collect().toSet == Set((9, "z")))
  }

  test("commit recovers from an orphaned version dir left by a crashed writer") {
    val work = tempDir("cat")
    val cat = new TableCatalog(spark, work)
    val t = "db.sch.crash"
    cat.append(t, Seq((1, "a")).toDF("id", "v")) // v0 live
    // simulate a writer that died after writing data but before the
    // pointer swap: a v_000001 dir exists, never referenced by _CURRENT
    val orphan = new java.io.File(s"$work/db/sch/crash/v_000001")
    assert(orphan.mkdirs())
    Seq((99, "garbage")).toDF("id", "v")
      .write.mode("overwrite").parquet(orphan.toString)
    // next commit targets the same version number — must clear the
    // orphan rather than fail or absorb its files
    cat.append(t, Seq((2, "b")).toDF("id", "v"))
    assert(cat.read(t).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b")))
  }

  test("truncate keeps schema, zero rows") {
    val cat = new TableCatalog(spark, tempDir("cat"))
    cat.append("d.s.t", Seq((1, "a")).toDF("id", "v"))
    cat.truncate("d.s.t")
    assert(cat.count("d.s.t") == 0)
    assert(cat.read("d.s.t").columns.toSeq == Seq("id", "v"))
  }

  test("updateWhere performs copy-on-write flag clear") {
    val cat = new TableCatalog(spark, tempDir("cat"))
    val t = "d.s.flags"
    cat.append(t, Seq((1, 1), (2, 1), (3, 0)).toDF("id", "IS_NEW"))
    cat.updateWhere(t, Map("IS_NEW" -> lit(0)), col("IS_NEW") === 1 && col("id") =!= 2)
    val rows = cat.read(t).as[(Int, Int)].collect().toMap
    assert(rows == Map(1 -> 0, 2 -> 1, 3 -> 0))
  }

  test("merge upserts on keys, source wins") {
    val cat = new TableCatalog(spark, tempDir("cat"))
    val t = "d.s.m"
    cat.append(t, Seq((1, "old"), (2, "old")).toDF("k", "v"))
    cat.merge(t, Seq((2, "new"), (3, "new")).toDF("k", "v"), Seq("k"))
    val rows = cat.read(t).as[(Int, String)].collect().toMap
    assert(rows == Map(1 -> "old", 2 -> "new", 3 -> "new"))
  }

  test("append is O(delta): prior data files referenced, not copied") {
    val root = tempDir("cat")
    val cat = new TableCatalog(spark, root)
    val t = "d.s.grow"
    cat.append(t, Seq.tabulate(100)(i => (i, s"v$i")).toDF("id", "v"))
    def partFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles).map(_.toSeq).getOrElse(Nil)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
    val v0Files = partFiles(new java.io.File(s"$root/d/s/grow/v_000000")).map(_.getName).toSet
    cat.append(t, Seq((1000, "new")).toDF("id", "v"))
    // v1 holds only the delta + a manifest; v0's files untouched in place
    val v1 = new java.io.File(s"$root/d/s/grow/v_000001")
    assert(partFiles(v1).nonEmpty)
    assert(new java.io.File(v1, "_MANIFEST").exists)
    assert(partFiles(new java.io.File(s"$root/d/s/grow/v_000000"))
      .map(_.getName).toSet == v0Files)
    assert(cat.count(t) == 101)
    // long append chains stay correct and prune nothing still referenced
    (0 until 5).foreach(i => cat.append(t, Seq((2000 + i, "x")).toDF("id", "v")))
    assert(cat.count(t) == 106)
    assert(cat.read(t).filter(col("id") < 100).count() == 100)
  }

  test("readers of the old version survive an overwrite (COW)") {
    val cat = new TableCatalog(spark, tempDir("cat"))
    val t = "d.s.cow"
    cat.append(t, Seq((1, "a")).toDF("id", "v"))
    val before = cat.read(t) // plan pinned to v0 files
    cat.overwrite(t, Seq((2, "b")).toDF("id", "v"))
    assert(before.count() == 1) // old version still readable
    assert(cat.read(t).as[(Int, String)].head() == ((2, "b")))
  }

  test("updateWhere rewrites only files containing matching rows") {
    val root = tempDir("cat")
    val cat = new TableCatalog(spark, root)
    val t = "d.s.pruned"
    // two appends → two versions; the second version's own files hold
    // only ids 100-101, first version's files hold 0-99
    cat.append(t, Seq.tabulate(100)(i => (i, 1)).toDF("id", "IS_NEW").repartition(2))
    cat.append(t, Seq((100, 1), (101, 0)).toDF("id", "IS_NEW"))
    def partNames(v: String): Set[String] =
      Option(new java.io.File(s"$root/d/s/pruned/$v").listFiles)
        .map(_.toSeq).getOrElse(Nil)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .map(_.getName).toSet
    val v0 = partNames("v_000000")
    // predicate touches only the delta files of v1
    cat.updateWhere(t, Map("IS_NEW" -> lit(0)), col("id") === 100)
    val v2 = new java.io.File(s"$root/d/s/pruned/v_000002")
    assert(v2.isDirectory && new java.io.File(v2, "_MANIFEST").exists)
    // untouched v0 data files are carried by reference (a prior-dir
    // manifest line + tombstones — O(touched) metadata), not rewritten
    val live = cat.dataFilePaths(t)
    assert(v0.forall(name => live.exists(_.endsWith(name))))
    assert(partNames("v_000000") == v0) // physically untouched
    val rows = cat.read(t).as[(Int, Int)].collect().toMap
    assert(rows(100) == 0 && rows(101) == 0 && rows(0) == 1 && rows.size == 102)
    // no-match predicate is a no-op: no new version directory
    cat.updateWhere(t, Map("IS_NEW" -> lit(9)), col("id") === -1)
    assert(!new java.io.File(s"$root/d/s/pruned/v_000003").exists)
  }

  test("deleteWhere erases rows with file pruning; old version retained") {
    val root = tempDir("cat")
    val cat = new TableCatalog(spark, root)
    val t = "d.s.del"
    cat.append(t, Seq.tabulate(100)(i => (i, s"u$i")).toDF("id", "subject")
      .repartition(2))
    cat.append(t, Seq((100, "erase-me"), (101, "keep")).toDF("id", "subject"))
    def partNames(v: String): Set[String] =
      Option(new java.io.File(s"$root/d/s/del/$v").listFiles)
        .map(_.toSeq).getOrElse(Nil)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .map(_.getName).toSet
    val v0 = partNames("v_000000")
    cat.deleteWhere(t, col("id") === 100)
    // only the delta file rewrote; v0 files carried by manifest
    val v2 = new java.io.File(s"$root/d/s/del/v_000002")
    assert(v2.isDirectory && new java.io.File(v2, "_MANIFEST").exists)
    // carried by reference (prior-dir line + tombstones), not rewritten
    val live = cat.dataFilePaths(t)
    assert(v0.forall(name => live.exists(_.endsWith(name))))
    assert(partNames("v_000000") == v0)
    val ids = cat.read(t).select("id").as[Int].collect().toSet
    assert(!ids.contains(100) && ids.contains(101) && ids.size == 101)
    // erased subject still present in the RETAINED prior version (the
    // retention window is the operator's erasure clock)
    assert(cat.readVersion(t, 1).filter(col("id") === 100).count() == 1)
    // no-match delete is a no-op: no new version
    cat.deleteWhere(t, col("id") === -5)
    assert(!new java.io.File(s"$root/d/s/del/v_000003").exists)
  }

  test("concurrent commit: loser gets a conflict, never a lost update") {
    val root = tempDir("cat")
    val cat = new TableCatalog(spark, root)
    val t = "d.s.occ"
    cat.append(t, Seq((1, "a")).toDF("id", "v")) // v0
    // simulate another writer mid-commit on v1: its claim is planted
    val claim = new java.io.File(s"$root/d/s/occ/_COMMIT_000001")
    assert(claim.createNewFile())
    intercept[java.util.ConcurrentModificationException] {
      cat.append(t, Seq((2, "b")).toDF("id", "v"))
    }
    // table state untouched by the failed attempt
    assert(cat.read(t).count() == 1)
    // the "winner" finishes (claim released) → rerunning the op works
    assert(claim.delete())
    cat.append(t, Seq((2, "b")).toDF("id", "v"))
    assert(cat.read(t).count() == 2)
  }

  test("a stale claim from a crashed writer is swept, commit proceeds") {
    val root = tempDir("cat")
    val cat = new TableCatalog(spark, root, staleClaimMs = 50)
    val t = "d.s.stale"
    cat.append(t, Seq((1, "a")).toDF("id", "v")) // v0
    val claim = new java.io.File(s"$root/d/s/stale/_COMMIT_000001")
    assert(claim.createNewFile())
    Thread.sleep(120) // age the claim past the 50 ms staleness window
    cat.append(t, Seq((2, "b")).toDF("id", "v")) // sweeps + commits
    assert(cat.read(t).count() == 2)
  }

  test("vacuum respects manifest reachability, then erases for real") {
    val root = tempDir("cat")
    val cat = new TableCatalog(spark, root)
    val t = "d.s.vac"
    cat.overwrite(t, Seq.tabulate(50)(i => (i, s"u$i")).toDF("id", "subject")
      .repartition(2))                                  // v0
    cat.deleteWhere(t, col("id") === 7)                 // v1 (refs v0 files)
    def dirExists(v: Int) =
      new java.io.File(s"$root/d/s/vac/" + f"v_$v%06d").exists
    // v1's manifest still references v0's untouched file → v0 is
    // reachable and must survive a keep=1 vacuum
    assert(cat.vacuum(t, keepVersions = 1).isEmpty && dirExists(0))
    // compaction starts a fresh self-contained chain → v0 and v1 are
    // now unreachable and a keep=1 vacuum removes them physically
    cat.compact(t)                                      // v2
    val removed = cat.vacuum(t, keepVersions = 1)
    assert(removed.toSet == Set("v_000000", "v_000001"))
    assert(!dirExists(0) && !dirExists(1) && dirExists(2))
    // the erased subject is gone from what remains on disk
    assert(cat.read(t).filter(col("id") === 7).count() == 0)
    assert(cat.read(t).count() == 49)
    intercept[IllegalArgumentException](cat.readVersion(t, 0))
  }

  test("deleteWhere on a partitioned table prunes untouched partitions") {
    val cat = new TableCatalog(spark, tempDir("cat"))
    val t = "d.s.delp"
    cat.overwritePartitioned(t,
      Seq((1, "A", 10), (2, "A", 20), (3, "B", 30), (4, "B", 40))
        .toDF("id", "grp", "v"), Seq("grp"))
    cat.deleteWhere(t, col("id") === 3)
    val left = cat.read(t).select("id").as[Int].collect().toSet
    assert(left == Set(1, 2, 4))
    // partition values survive the rewrite
    assert(cat.read(t).filter(col("grp") === "A").count() == 2)
  }

  test("merge rewrites only files overlapping the source keys") {
    val root = tempDir("cat")
    val cat = new TableCatalog(spark, root)
    val t = "d.s.mprune"
    cat.append(t, Seq.tabulate(50)(i => (i, "old")).toDF("k", "v").repartition(2))
    cat.append(t, Seq((100, "old"), (101, "old")).toDF("k", "v"))
    cat.merge(t, Seq((100, "new"), (200, "new")).toDF("k", "v"), Seq("k"))
    val rows = cat.read(t).as[(Int, String)].collect().toMap
    assert(rows.size == 53 && rows(100) == "new" && rows(200) == "new" && rows(0) == "old")
    // the merged version carries the non-overlapping files by manifest
    val v2 = new java.io.File(s"$root/d/s/mprune/v_000002")
    assert(new java.io.File(v2, "_MANIFEST").exists)
    // merge with zero key overlap appends without rewriting anything
    cat.merge(t, Seq((300, "new")).toDF("k", "v"), Seq("k"))
    assert(cat.count(t) == 54)
  }

  test("compact collapses a long append chain into right-sized files") {
    val root = tempDir("cat")
    val cat = new TableCatalog(spark, root)
    val t = "d.s.compact"
    (0 until 6).foreach(i =>
      cat.append(t, Seq((i, s"v$i")).toDF("id", "v").coalesce(1)))
    val (nBefore, bytes) = cat.fileStats(t)
    assert(nBefore == 6 && bytes > 0)
    cat.compact(t) // tiny table → single target file
    val (nAfter, _) = cat.fileStats(t)
    assert(nAfter == 1)
    assert(cat.read(t).as[(Int, String)].collect().toMap ==
      (0 until 6).map(i => i -> s"v$i").toMap)
    // compacting a single-file table is a no-op
    cat.compact(t)
    assert(cat.fileStats(t)._1 == 1)
  }

  test("rank-based z-order stays balanced under heavy skew") {
    val cat = new TableCatalog(spark, tempDir("cat"))
    val t = "d.s.zskew"
    // 95% of x in [0,100), a few outliers at 1e9: equal-width would put
    // every common row in bucket 0 (range partition then can't split)
    val rows = (for { x <- 0 until 100; r <- 0 until 40 }
      yield (x.toLong, (x * 40 + r) % 64, x)) ++
      (0 until 10).map(i => (1000000000L + i, i % 64, i))
    cat.append(t, rows.toDF("x", "y", "payload").repartition(4))
    cat.compactZOrder(t, Seq("x", "y"), targetFileBytes = 4 * 1024,
      rankBased = true)
    assert(cat.read(t).count() == 4010)
    assert(cat.read(t).agg(sum($"payload")).as[Long].head() ==
      rows.map(_._3.toLong).sum)
    val perFile = cat.read(t).groupBy(input_file_name()).count()
      .as[(String, Long)].collect().map(_._2)
    assert(perFile.length >= 3, s"expected >=3 files, got ${perFile.length}")
    // no single file swallows the skewed mass
    assert(perFile.max < 4010 * 6 / 10,
      s"rank-based buckets should balance files: ${perFile.mkString(",")}")
  }

  test("time travel reads a retained prior version") {
    val cat = new TableCatalog(spark, tempDir("cat"))
    val t = "d.s.tt"
    cat.append(t, Seq((1, "a")).toDF("id", "v"))          // v0
    cat.append(t, Seq((2, "b")).toDF("id", "v"))          // v1
    assert(cat.version(t).contains(1))
    assert(cat.readVersion(t, 0).count() == 1)
    assert(cat.readVersion(t, 1).count() == 2)
    intercept[IllegalArgumentException](cat.readVersion(t, 7))
  }

  test("column-adding append + readMergedSchema resolves the union schema") {
    val cat = new TableCatalog(spark, tempDir("cat"))
    val t = "d.s.evolve"
    cat.append(t, Seq((1, "a")).toDF("id", "v"))
    cat.append(t, Seq((2, "b", 9.5)).toDF("id", "v", "score"))
    val merged = cat.readMergedSchema(t)
    assert(merged.columns.toSet == Set("id", "v", "score"))
    val rows = merged.select("id", "score").as[(Int, Option[Double])]
      .collect().toMap
    assert(rows == Map(1 -> None, 2 -> Some(9.5)))
  }

  test("compactZOrder clusters files into narrow key ranges") {
    val cat = new TableCatalog(spark, tempDir("cat"))
    val t = "d.s.zorder"
    // 64x64 grid appended in 4 shuffled chunks → unclustered files
    val grid = for { x <- 0 until 64; y <- 0 until 64 } yield (x, y, x * 64 + y)
    val shuffled = new scala.util.Random(424242).shuffle(grid.toList)
    shuffled.grouped(1024).foreach(chunk =>
      cat.append(t, chunk.toDF("x", "y", "payload").coalesce(1)))
    cat.compactZOrder(t, Seq("x", "y"), targetFileBytes = 6 * 1024)
    val (nFiles, _) = cat.fileStats(t)
    assert(nFiles >= 4, s"expected at least 4 output files, got $nFiles")
    // content preserved exactly
    assert(cat.read(t).count() == 4096)
    assert(cat.read(t).agg(sum($"payload")).as[Long].head() ==
      grid.map(_._3.toLong).sum)
    // each z-ordered file covers a narrow hyper-rectangle: with ≥4
    // z-curve segments, the AVERAGE area of per-file bounding boxes
    // must be far below a random layout's (which spans ~63×63 ≈ 3969)
    val root = cat.read(t)
    val perFile = root.groupBy(input_file_name().as("f"))
      .agg((max($"x") - min($"x")).as("xs"), (max($"y") - min($"y")).as("ys"))
      .as[(String, Int, Int)].collect()
    val avgArea = perFile.map { case (_, xs, ys) =>
      (xs + 1).toLong * (ys + 1) }.sum.toDouble / perFile.length
    assert(avgArea <= 2100,
      s"z-order should shrink bounding boxes: avg $avgArea of ${perFile.mkString(", ")}")
  }

  test("partition evolution: new layout appends, old files unrewritten, both read") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val cat = new TableCatalog(spark, tempDir("cat_evolve"))
    val t = "d.s.ev"
    val old = (1L to 600L).map(i => (i, if (i % 3 == 0) "A" else "B", i * 1.0))
      .toDF("k", "grp", "x")
    cat.overwrite(t, old.repartition(3)) // unpartitioned era
    val oldFiles = cat.dataFilePaths(t).toSet
    val newer = (601L to 900L).map(i => (i, if (i % 3 == 0) "A" else "B", i * 1.0))
      .toDF("k", "grp", "x")
    cat.appendEvolvePartitioning(t, newer, Seq("grp"))
    // zero rewrite: every old file still referenced byte-identically
    assert(oldFiles.subsetOf(cat.dataFilePaths(t).toSet))
    val all = cat.read(t)
    assert(all.count() == 900)
    assert(all.columns.sorted.toSeq == Seq("grp", "k", "x"))
    assert(all.filter(col("grp") === "A").agg(
      org.apache.spark.sql.functions.sum("k")).as[Long].head() ==
      (1L to 900L).filter(_ % 3 == 0).sum)
    // pruning bites on the evolved slice: grp=A reads old files (their
    // layout has no partitions) + ONLY the A subdir of the new commit.
    // catalog partitioned reads are connector scans now — count the
    // scheduled slices (files) of the executed plan.
    def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      graft.connector.GraftPlanInspect.scanPartitionsOf(df).toLong
    }
    val total = filesScanned(cat.read(t))
    val pruned = filesScanned(cat.read(t).filter(col("grp") === "A"))
    assert(pruned < total, s"expected partition pruning: $pruned of $total")
    // post-evolution appends stay partitioned and readable
    cat.append(t, Seq((1000L, "A", -1.0)).toDF("k", "grp", "x"))
    assert(cat.read(t).count() == 901)
    // old snapshot still reads with its own (unpartitioned) layout
    assert(cat.readVersion(t, 0).count() == 600)
  }

  test("maintain settles small-file and DV debt, no-ops when healthy") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val cat = new TableCatalog(spark, tempDir("cat_maintain"))
    val t = "d.s.mnt"
    // 12 tiny commits + a MoR delete = both debt kinds
    (0 until 12).foreach { i =>
      cat.append(t, ((i * 100L + 1) to (i * 100L + 100))
        .map(k => (k, k % 9)).toDF("k", "g").coalesce(1))
    }
    cat.deleteWhereDV(t, col("g") === 4L)
    val h0 = cat.describeHealth(t)
    assert(h0.files >= 12 && h0.dvRows > 0 && h0.dvRatio > 0.05)
    val expect = (1L to 1200L).count(_ % 9 != 4)
    val actions = cat.maintain(t)
    assert(actions.contains("compact"))
    assert(cat.count(t) == expect) // content preserved through maintenance
    val h1 = cat.describeHealth(t)
    assert(h1.files < h0.files && h1.dvRows == 0)
    // healthy table: second run must not touch data
    val filesBefore = cat.dataFilePaths(t)
    assert(!cat.maintain(t).contains("compact"))
    assert(cat.dataFilePaths(t) == filesBefore)
  }
}
