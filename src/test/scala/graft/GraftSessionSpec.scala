package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

class GraftSessionSpec extends SparkTestBase {

  private def isSet(k: String): Boolean = spark.conf.getAll.contains(k)

  test("the test session carries every harness setting") {
    val expected = GraftSession.settings(4).filterNot { case (k, _) =>
      k == "spark.master" || k == "spark.sql.shuffle.partitions"
    }
    expected.foreach { case (k, v) =>
      assert(spark.conf.getOption(k).contains(v), s"$k should be $v")
    }
  }

  test("withConf restores a key that was set, also when the body throws") {
    val k = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(k)
    GraftSession.withConf(spark, k -> "7") {
      assert(spark.conf.get(k) == "7")
      // a nested scope with another value gives the outer one back
      GraftSession.withConf(spark, k -> "9") { assert(spark.conf.get(k) == "9") }
      assert(spark.conf.get(k) == "7")
    }
    assert(spark.conf.get(k) == before)
    intercept[IllegalStateException] {
      GraftSession.withConf(spark, k -> "7") { throw new IllegalStateException("boom") }
    }
    assert(spark.conf.get(k) == before)
  }

  test("withConf unsets a key that was unset, also when the body throws") {
    val k = "graft.test.scopedKey"
    assert(!isSet(k))
    GraftSession.withConf(spark, k -> "x") { assert(spark.conf.get(k) == "x") }
    assert(!isSet(k))
    intercept[IllegalStateException] {
      GraftSession.withConf(spark, k -> "x") { throw new IllegalStateException("boom") }
    }
    assert(!isSet(k))
  }

  test("overlapping scopes setting the same value share one saved value") {
    // the commit path's interleaving: writer A enters, writer B enters,
    // A exits while B is still writing
    val k = "spark.sql.parquet.outputTimestampType"
    val micros = "TIMESTAMP_MICROS"
    assert(!isSet(k))
    val aIn, bIn, aOut = new CountDownLatch(1)
    @volatile var seenByB: Option[String] = None
    val a = new Thread(() => {
      GraftSession.withConf(spark, k -> micros) { aIn.countDown(); bIn.await(60, TimeUnit.SECONDS) }
      aOut.countDown()
    })
    val b = new Thread(() => {
      aIn.await(60, TimeUnit.SECONDS)
      GraftSession.withConf(spark, k -> micros) {
        bIn.countDown(); aOut.await(60, TimeUnit.SECONDS)
        seenByB = spark.conf.getOption(k)
      }
    })
    a.start(); b.start(); a.join(60000); b.join(60000)
    assert(seenByB.contains(micros), "A's exit must not undo B's setting")
    assert(!isSet(k), "the last scope out unsets the key")
  }

  test("one session builder and no hand-written conf save/restore " +
      "outside GraftSession") {
    val files = Seq("src/main", "src/test").flatMap { root =>
      val s = Files.walk(Paths.get(root))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    val builder = "SparkSession" + ".builder"
    val (home, rest) =
      files.partition(_.getFileName.toString == "GraftSession.scala")
    assert(home.size == 1 && home.map(text(_).split(builder, -1).length - 1) == Seq(1))
    assert(rest.filter(text(_).contains(builder)).isEmpty)
    // a `finally` that writes session conf: the rest of its line, plus
    // the next two lines when it opens a block
    val restore = """conf\.(set|unset)\(""".r
    val offenders = rest.flatMap { p =>
      val lines = text(p).split("\n")
      lines.indices.filter(i => lines(i).contains("finally")).filter { i =>
        val tail = lines(i).substring(lines(i).indexOf("finally"))
        val window =
          if (tail.trim.endsWith("{")) (tail +: lines.slice(i + 1, i + 3)).mkString
          else tail
        restore.findFirstIn(window).isDefined
      }.map(i => s"$p:${i + 1}")
    }
    assert(offenders.isEmpty, s"use GraftSession.withConf: $offenders")
  }
}
