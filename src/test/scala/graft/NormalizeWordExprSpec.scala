package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, regexp_replace, translate, when}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.core.WordCount
import graft.functions.NormalizeWordImpl

/** The native NormalizeWord expression is byte-exact with the C
  * semantics and agrees with both the JVM char-based reference and the
  * built-ins-only column combo.
  */
class NormalizeWordExprSpec extends SparkSpec {

  private def viaImpl(s: String): String =
    NormalizeWordImpl.normalize(UTF8String.fromString(s)).toString

  /** Reference implementation from Spark built-ins only (three string
    * scans vs the custom expression's one — the pattern a
    * built-ins-only deployment would use).
    *
    * `translate`, NOT `lower`: the C code lowercases bytes 'A'-'Z' only
    * (`mpi_mapreduce.c:138`), whereas `lower()` is Unicode-aware and
    * would also fold e.g. 'É'→'é' inside all-non-alpha tokens, merging
    * keys the reference keeps distinct (observed: 5 of the 50,059
    * distinct words in file_chunks_130 merge under unicode lower).
    */
  private def normalizeBuiltin(tok: Column): Column = {
    val lowered = translate(tok,
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")
    when(lowered.rlike("[a-z]"),
      regexp_replace(lowered, "^[^a-z]+|[^a-z]+$", ""))
      .otherwise(lowered)
  }

  test("agrees with normalizeWordExact on edge cases and random tokens") {
    val edge = Seq("The", "(word).", "don't", "12abc34", "...", "1871",
      "word\r", "﻿Project", "a\tb", "HELLO!!!", "--x--", "", "é", "’…’")
    edge.foreach { t =>
      assert(viaImpl(t) == WordCount.normalizeWordExact(t), s"input=<$t>")
    }
    val gen = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaChar,
      3 -> Gen.oneOf('.', '\'', '-', '1', '\r', '\t', 'é', '’', '﻿'))).map(_.mkString)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAll(gen)(t => viaImpl(t) == WordCount.normalizeWordExact(t)))
    assert(res.passed, res.status.toString)
  }

  test("interpreted eval and codegen agree through the column API") {
    import spark.implicits._
    val data = Seq("The", "(word).", "don't", "...", "1871", "﻿BOM", "x")
    val df = data.toDF("tok")
      .select(col("tok"), WordCount.normalize(col("tok")).as("native"),
        normalizeBuiltin(col("tok")).as("builtin"))
    df.collect().foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"native vs builtin for <${r.getString(0)}>")
      assert(r.getString(1) == WordCount.normalizeWordExact(r.getString(0)))
    }
  }

  test("mutation safety: normalizing does not corrupt the input column") {
    import spark.implicits._
    // Select the raw token alongside the normalized form; if normalize
    // mutated the shared UTF8String bytes, tok would come back lowercased.
    val rows = Seq("UPPER", "MiXeD").toDF("tok")
      .select(col("tok"), WordCount.normalize(col("tok")).as("w"))
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("UPPER", "MiXeD"))
    assert(rows.map(_.getString(1)).toSeq == Seq("upper", "mixed"))
  }

  test("normalize_word resolves in SQL via GraftExtensions (session config)") {
    // SparkSpec builds the session with spark.sql.extensions=graft.GraftExtensions;
    // no imperative registration happens anywhere in the test suite.
    val got = spark.sql("SELECT normalize_word('(Word).') AS w")
      .collect()(0).getString(0)
    assert(got == "word")
  }

  test("imperative registration path (Bridge.registerUnary) also works") {
    org.apache.spark.sql.graft.Bridge.registerUnary(
      spark, "normalize_word_alt", graft.functions.NormalizeWord(_))
    val got = spark.sql("SELECT normalize_word_alt('...xYz...') AS w")
      .collect()(0).getString(0)
    assert(got == "xyz")
  }
}
