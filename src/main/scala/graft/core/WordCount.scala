package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity word-count pipeline (SURVEY.md §2, §7).
  *
  * The reference engine's whole query surface is: parallel text scan →
  * tokenize → normalize → hash-partition → partial aggregate → shuffle →
  * final aggregate → text sink (reference: `mpi_mapreduce.c:500-866`).
  * Expressed Spark-first that is ONE declarative plan:
  *
  * {{{
  *   FileScan text → Generate(explode(split)) → Filter
  *     → HashAggregate(partial) → Exchange(hash(word)) → HashAggregate(final)
  * }}}
  *
  * Everything the reference hand-builds — reader/mapper/reducer thread
  * pools, bounded queues, scratch-file shuffle, master–worker file
  * distribution, termination sentinels (~400 LoC of C/MPI) — is the Spark
  * scheduler + sort shuffle. Map-side combining (`insert`,
  * `mpi_mapreduce.c:208-243`) is the automatic partial HashAggregate.
  *
  * Scale notes (100 TB): the plan has exactly one Exchange, keyed on
  * `word`. Input parallelism comes from file splits
  * (`spark.sql.files.maxPartitionBytes`), not reader-thread counts;
  * reduce parallelism from `spark.sql.shuffle.partitions` + AQE
  * coalescing. Skewed hot words (stopwords) are absorbed by the partial
  * aggregate: each map task emits at most one row per distinct word, so
  * the shuffle volume is O(distinct-words × map-tasks), independent of
  * corpus size.
  */
object WordCount {

  /** Max key length; words longer are dropped (`mpi_mapreduce.c:209-211`). */
  val WordLength = 70

  /** Line-oriented text scan over files/globs.
    *
    * Replaces `reader()` (`mpi_mapreduce.c:85-106`): the bounded queue,
    * lock and `usleep` backpressure vanish — Spark tasks pull lines via
    * iterators with spill-capable downstream operators. The reference
    * drops only lines whose first byte is `\n` (`mpi_mapreduce.c:91`),
    * i.e. empty lines after LF-splitting; a line of spaces is kept.
    */
  def ingest(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.text(paths: _*).where(col("value") =!= "")

  /** BYTE FIDELITY (SURVEY §1 parity warning, resolved): `spark.read
    * .text` does NOT decode — it stores each line's raw file bytes in a
    * `UTF8String` verbatim, so invalid-UTF-8 input (the C engine's
    * signed `char*` world, `mpi_mapreduce.c:133-161`) flows through the
    * whole pipeline byte-exactly: tokenize splits on the 0x20 byte,
    * [[normalize]] walks raw bytes exactly like the C, `groupBy`
    * compares raw bytes, `octet_length` IS `strlen`, and the text sink
    * writes the bytes back out unchanged. U+FFFD replacement happens
    * only when a value is materialized to a JVM String (collect/show)
    * or re-encoded (`encode`) — display, not semantics. Pinned by
    * EncodingFidelitySpec; `hex(col)` observes the raw bytes.
    */

  /** Tokenize: split on single space ONLY (`getWord`,
    * `mpi_mapreduce.c:119-131` — not tab, not `\r`). Consecutive spaces
    * yield empty tokens, dropped after normalize (as the reference does
    * at `mpi_mapreduce.c:324`). Uses the byte-level
    * [[graft.functions.ByteSplit]] — bit-identical to
    * `split(value, " ", -1)` on valid UTF-8 but raw-byte-preserving on
    * invalid input (EncodingFidelitySpec) and regex-free in the hot path.
    */
  def tokenize(lines: DataFrame): DataFrame =
    lines.select(explode(graft.functions.ByteSplit.split(col("value"))).as("tok"))

  /** Normalize (`normalizeWord`, `mpi_mapreduce.c:133-161`): the custom
    * codegen'd Catalyst expression [[graft.functions.NormalizeWord]] —
    * one byte pass, byte-exact with the C code (ASCII-only lowercase;
    * signed-byte alpha test; all-non-alpha tokens kept verbatim).
    */
  def normalize(tok: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.NormalizeWord(
        org.apache.spark.sql.graft.Bridge.expression(tok)))

  /** Reference-exact normalize on JVM strings (chars stand in for the C
    * signed bytes: any codepoint outside ASCII letters is "non-alpha",
    * matching the signed-char comparison at `mpi_mapreduce.c:139-141`).
    * Used by unit/property tests as the oracle for [[normalize]].
    */
  def normalizeWordExact(w: String): String = {
    val lowered = w.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
    def alpha(c: Char) = c >= 'a' && c <= 'z'
    if (lowered.exists(alpha)) {
      val from = lowered.indexWhere(alpha)
      val to = lowered.lastIndexWhere(alpha)
      lowered.substring(from, to + 1)
    } else lowered
  }

  /** Full pipeline: lines → (word, count). One shuffle, map-side combined.
    * The length cap is in BYTES (octet_length), matching the C
    * `strlen(w) > WORD_LENGTH` drop at `mpi_mapreduce.c:209-211`.
    */
  def count(lines: DataFrame): DataFrame =
    tokenize(lines)
      .select(normalize(col("tok")).as("word"))
      .where(octet_length(col("word")) > 0 && octet_length(col("word")) <= WordLength)
      .groupBy("word")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("count"))

  /** End-to-end job: files in, counts out. */
  def run(spark: SparkSession, paths: Seq[String]): DataFrame =
    count(ingest(spark, paths))

  /** Text sink matching the reference's output shape: `"%s %d"` per word,
    * one part-file per partition, merged by concatenation
    * (`mpi_mapreduce.c:278-289`, `mpi_mm.sub:11`). Output is unordered —
    * comparisons must be order-insensitive (SURVEY §2.10).
    *
    * `byRefHash = true` reproduces the reference's file GROUPING: the
    * reference writes one file per reducer, a word's reducer being
    * `hashFunc(word) % nReducers` (`mpi_mapreduce.c:108-117,278-289`) —
    * here a repartition keyed on the byte-exact
    * [[graft.functions.RefHash]] bucket, which guarantees bucket→file
    * EXCLUSIVITY (every reference bucket lands wholly in one part-file;
    * SinkAndRuleSpec asserts it). The bucket→file-INDEX assignment is
    * murmur-permuted by the repartition, so part-file numbering differs
    * from the reference's `bucket % nReducers` — same partition classes,
    * permuted file names. Semantics-invisible for the counts (any total
    * partitioning works); off by default because hash-partitioned output
    * is the cosmetic parity knob, not the fastest layout.
    */
  def sink(counts: DataFrame, outDir: String, partitions: Int = 0,
      byRefHash: Boolean = false): Unit = {
    val df =
      if (byRefHash && partitions > 0)
        counts.repartition(partitions,
          graft.functions.RefHash.ref_hash_bytes(col("word")))
      else if (partitions > 0) counts.repartition(partitions)
      else counts
    df.select(concat_ws(" ", col("word"), col("count")))
      .write.mode("overwrite").text(outDir)
  }
}
