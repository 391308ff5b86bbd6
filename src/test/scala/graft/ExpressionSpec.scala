package graft

import org.apache.spark.sql.functions._
import graft.functions.expressions.{GraftFunctions, HammingDistance, RollingHash}

class ExpressionSpec extends SparkTestBase {
  import spark.implicits._

  test("hamming: scala reference semantics") {
    assert(HammingDistance.compute("10101", "10101") == 0)
    assert(HammingDistance.compute("10101", "10011") == 2)
    assert(HammingDistance.compute("111", "11100") == 2) // length diff counts
    assert(HammingDistance.compute("", "") == 0)
  }

  test("rolling hash matches BigInt reference implementation") {
    def reference(s: String): Long = {
      val M = BigInt(2).pow(61) - 1
      s.getBytes("UTF-8").foldLeft(BigInt(0))((h, b) =>
        (h * 257 + (b & 0xff)) mod M).toLong
    }
    for (s <- Seq("", "a", "hello world", "the quick brown fox", "ü β 漢字",
        "x" * 10000)) {
      assert(RollingHash.compute(s.getBytes("UTF-8")) == reference(s), s"input: $s")
    }
  }

  test("rolling property: equal content equal hash, any change changes it") {
    val base = RollingHash.compute("abcdef".getBytes)
    assert(RollingHash.compute("abcdef".getBytes) == base)
    assert(RollingHash.compute("abcdeg".getBytes) != base)
    assert(RollingHash.compute("abcde".getBytes) != base)
  }

  test("expressions run inside dataframes via registry (codegen path)") {
    GraftFunctions.register(spark)
    val df = Seq(("1010", "1001", "abc"), ("1111", "1111", "abc"))
      .toDF("a", "b", "s")
    val out = df.select(
      GraftFunctions.hamming(col("a"), col("b")).as("h"),
      GraftFunctions.rollingHash(col("s")).as("r"))
      .as[(Int, Long)].collect()
    assert(out(0)._1 == 2 && out(1)._1 == 0)
    assert(out(0)._2 == out(1)._2) // same string, same fingerprint
    assert(out(0)._2 == RollingHash.compute("abc".getBytes))
  }

  test("expressions usable from SQL after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT graft_hamming('abc', 'abd') AS h, graft_rolling_hash('abc') AS f")
      .as[(Int, Long)].head()
    assert(r._1 == 1)
    assert(r._2 == RollingHash.compute("abc".getBytes))
  }

  test("null inputs propagate null") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT graft_hamming(NULL, 'a') AS h, graft_rolling_hash(NULL) AS f")
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("word shingles kernel matches the HOF formulation") {
    GraftFunctions.register(spark)
    val df = Seq(Tuple1(Seq("a", "b", "c", "d")), Tuple1(Seq("a")),
      Tuple1(Seq.empty[String])).toDF("tk")
    val native = df.select(GraftFunctions.wordShingles(col("tk"), 2))
      .as[Seq[String]].collect()
    val hof = df.select(expr(
      "CASE WHEN size(tk) >= 2 THEN transform(sequence(1, size(tk) - 1), i -> concat_ws(' ', slice(tk, i, 2))) ELSE array() END"))
      .as[Seq[String]].collect()
    assert(native.toSeq == hof.toSeq)
    assert(native(0) == Seq("a b", "b c", "c d") && native(1).isEmpty && native(2).isEmpty)
  }

  test("char ngrams kernel matches substring semantics incl. code points") {
    GraftFunctions.register(spark)
    val df = Seq("abcd", "ü β", "ab", "").toDF("s")
    val native = df.select(GraftFunctions.charNgramsNative(col("s"), 3))
      .as[Seq[String]].collect()
    assert(native(0) == Seq("abc", "bcd"))
    assert(native(1) == Seq("ü β")) // 3 code points
    assert(native(2).isEmpty && native(3).isEmpty)
  }

  test("array dot kernels: values, length mismatch, null element") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
                graft_dot(array(1.0D), array(1.0D, 2.0D)) AS mismatch,
                graft_dot(array(1.0D, NULL), array(1.0D, 2.0D)) AS withnull,
                graft_quant_dot(array(0.5D), array(0.5D)) AS qd""").head()
    assert(r.getDouble(0) == 11.0)
    assert(r.isNullAt(1) && r.isNullAt(2))
    assert(r.getLong(3) == 5000000L * 5000000L)
  }

  test("long array dot: native kernel == HOF formulation, null/mismatch paths") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_long_dot(array(3L, -2L, 5L), array(7L, 9L, 1L)) AS d,
                graft_long_dot(array(1L), array(1L, 2L)) AS mismatch,
                graft_long_dot(array(1L, NULL), array(1L, 2L)) AS withnull,
                graft_long_dot(array(3L, -2L, 5L), array(7L, 9L, 1L)) =
                  aggregate(zip_with(array(3L, -2L, 5L), array(7L, 9L, 1L),
                    (x, y) -> x * y), 0L, (acc, z) -> acc + z) AS same"""
    ).head()
    assert(r.getLong(0) == 3L * 7 - 2 * 9 + 5 * 1)
    assert(r.isNullAt(1) && r.isNullAt(2))
    assert(r.getBoolean(3))
  }

  test("quant dot rounds HALF_UP like Spark's round()") {
    import graft.functions.expressions.ArrayQuantDot
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // 0.15e-6 quantizes to round(1.5)=2, -0.15e-6 to round(-1.5)=-2
    val a = new GenericArrayData(Array[Any](1.5e-7, -1.5e-7))
    assert(ArrayQuantDot.compute(a, a) == 8L) // 2*2 + (-2)*(-2)
  }

  test("sign signature: integer-exact, deterministic, bucket shape") {
    GraftFunctions.register(spark)
    val df = Seq(
      Tuple1(Array(0.5f, -0.25f, 0.125f)),
      Tuple1(Array(0.5f, -0.25f, 0.125f)),   // identical vec, same bucket
      Tuple1(Array(-0.5f, 0.25f, -0.125f))). // negated → complementary bits
      toDF("v")
    val sigs = df.select(GraftFunctions.signSignature(col("v"), 8))
      .as[String].collect()
    assert(sigs(0).length == 8 && sigs(0).matches("[01]{8}"))
    assert(sigs(0) == sigs(1))
    // strictly complementary only if no plane sum is exactly zero; with
    // these values sums are nonzero, so negation flips every bit
    assert(sigs(2) == sigs(0).map(c => if (c == '1') '0' else '1'))
  }

  test("repeated dot kernels in one stage compile under strict codegen") {
    // non-nullable children: nullSafeExec emits no scoping block, so
    // the kernels' locals land in one Java scope — freshName must keep
    // them distinct. fallback=false turns a Janino failure into an
    // error instead of silent interpreted execution.
    GraftSession.withConf(spark, "spark.sql.codegen.fallback" -> "false") {
      // array(lit…) children are NON-nullable — the collision-prone path
      val a = array(lit(1.0f), lit(2.0f))
      val b = array(lit(3.0f), lit(4.0f))
      val df = spark.range(1)
        .select(graft.operators.Similarity.cosine(a, b).as("c"),
          GraftFunctions.arrayQuantDot(a, b).as("q1"),
          GraftFunctions.arrayQuantDot(b, b).as("q2"))
      val row = df.collect().head
      assert(math.abs(row.getDouble(0) - 11.0 / math.sqrt(5.0 * 25.0)) < 1e-12)
      assert(row.getLong(1) == 1100000000000000L) // (1e7·3e7)+(2e7·4e7)
    }
  }

  test("damerau-levenshtein: full variant (transposed pair editable again)") {
    import graft.functions.expressions.DamerauLevenshtein.compute
    assert(compute("CA", "ABC") == 2) // OSA would say 3
    assert(compute("ab", "ba") == 1)
    assert(compute("kitten", "sitting") == 3)
    assert(compute("", "abc") == 3 && compute("abc", "") == 3)
    assert(compute("same", "same") == 0)
    assert(compute("aXbYc", "abc") == 2)
  }

  test("jaro-winkler: standard parameterization") {
    import graft.functions.expressions.JaroWinkler.compute
    assert(math.abs(compute("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-15)
    assert(compute("ab", "ba") == 0.0) // window excludes the swap
    assert(compute("", "a") == 0.0 && compute("a", "") == 0.0)
    assert(compute("abcdef", "abcdef") == 1.0)
    // prefix bonus only above the 0.7 boost threshold
    assert(math.abs(compute("a", "ab") - 0.85) < 1e-15)
    assert(math.abs(compute("DUCK", "DUKC") - 0.9333333333333333) < 1e-15)
  }

  test("unicode: nfc composes, strip_accents folds, idempotent") {
    import graft.functions.expressions.{NfcNormalize, StripAccents}
    val decomposed = "cafe\u0301" // e + combining acute
    val composed = "caf\u00e9"
    assert(NfcNormalize.compute(decomposed) == composed)
    assert(NfcNormalize.compute(composed) == composed) // fast path
    assert(StripAccents.compute(decomposed) == "cafe")
    assert(StripAccents.compute(composed) == "cafe")
    assert(StripAccents.compute("plain ascii") == "plain ascii")
    assert(NfcNormalize.compute("") == "" && StripAccents.compute("") == "")
  }

  test("string kernels run codegen'd inside a dataframe") {
    GraftFunctions.register(spark)
    GraftSession.withConf(spark, "spark.sql.codegen.fallback" -> "false") {
      val df = Seq(("CA", "ABC"), ("kitten", "sitting"), (null, "x"))
        .toDF("a", "b")
      val rows = df.select(
        GraftFunctions.damerauLevenshtein(col("a"), col("b")).as("dl"),
        GraftFunctions.jaroWinkler(col("a"), col("b")).as("jw"),
        GraftFunctions.stripAccents(
          GraftFunctions.nfcNormalize(lit("\u00e9ta"))).as("k"))
        .collect()
      assert(rows(0).getInt(0) == 2 && rows(1).getInt(0) == 3)
      assert(rows(2).isNullAt(0) && rows(2).isNullAt(1)) // null propagates
      assert(rows(0).getString(2) == "eta")
    }
  }
}
