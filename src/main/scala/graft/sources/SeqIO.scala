package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sequence-database IO + de novo result readers (reference
  * scripts/denovo/seqproc.py) and decoy generation.
  *
  * FASTA databases in this domain are MB-scale side inputs (20–40 target
  * + decoy entries in the toy experiment), so reads parse whole files and
  * the resulting DataFrames broadcast-join against result tables;
  * sequencer outputs are ordinary CSV/TSV scans.
  */
object SeqIO {

  // ------------------------------------------------------------- FASTA
  /** Parse FASTA text into (header, sequence) pairs. */
  def parseFasta(text: String): Seq[(String, String)] = {
    val entries = text.split("(?m)^>").iterator.filter(_.nonEmpty)
    entries.map { e =>
      val nl = e.indexOf('\n')
      if (nl < 0) (e.trim, "")
      else (e.substring(0, nl).trim,
        e.substring(nl + 1).replaceAll("\\s", ""))
    }.toSeq
  }

  /** Distributed FASTA read: one task per file (seqproc.py:80-93). */
  def readFasta(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.createDataset(paths)
      .flatMap { p =>
        val text = new String(Files.readAllBytes(Paths.get(p)),
          StandardCharsets.ISO_8859_1)
        parseFasta(text).map { case (h, s) => (p, h, s) }
      }
      .toDF("file", "header", "sequence")
  }

  def writeFasta(path: String, entries: Seq[(String, String)]): Unit = {
    val sb = new StringBuilder
    entries.foreach { case (h, s) => sb ++= s">$h\n$s\n" }
    Files.write(Paths.get(path), sb.toString.getBytes(StandardCharsets.ISO_8859_1))
  }

  /** Entry count the way the reference counts it: '\n>' occurrences + 1
    * (seqproc.py:74-77). */
  def countFastaEntries(text: String): Int =
    "\n>".r.findAllMatchIn(text).length + 1

  /** E-value cutoff for a given p-value (seqproc.py:61-77). */
  def evalueThreshold(
      medianSeqLen: Double, nDbSequences: Long,
      pValue: Double = 0.05): Long =
    math.ceil(pValue * medianSeqLen * nDbSequences).toLong

  // ---------------------------------------------- sequencer result readers
  /** DeepNovo TSV → (scan, sequence, score): drop 'nan' sequences, strip
    * commas and 'mod' markers (seqproc.py:23-40). */
  def readDeepNovo(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("sep", "\t").csv(path)
      .select(col("scan"), col("output_seq"), col("output_score"))
      .filter(col("output_seq") =!= "nan" && col("output_seq").isNotNull)
      .withColumn("sequence",
        regexp_replace(regexp_replace(col("output_seq"), ",", ""), "mod", ""))
      .select(col("scan"), col("sequence"),
        col("output_score").cast("double").as("score"))

  private val novorSchema = StructType(Seq(
    "id", "scanNum", "RT", "mz_data", "z", "pepMass_denovo", "err",
    "ppm", "score", "peptide", "aaScore").map(StructField(_, StringType)))

  /** Novor CSV → (scan, sequence, score): comment lines skipped, leading
    * whitespace ignored, PTM parens removed (seqproc.py:42-57). */
  def readNovor(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(novorSchema)
      .option("comment", "#").option("ignoreLeadingWhiteSpace", "true")
      .csv(path)
      .withColumn("sequence", regexp_replace(col("peptide"), "\\(.+\\)", ""))
      .select(col("scanNum").cast("long").as("scan"), col("sequence"),
        col("score").cast("double").as("score"))

  // -------------------------------------------------- digestion + decoys
  /** Tryptic digestion: cleave after K/R except before P (the default
    * ProteaseDigestion the reference uses, seqproc.py:115-119). */
  def trypticDigest(sequence: String): Seq[String] = {
    val s = sequence.toUpperCase
    val frags = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c == 'K' || c == 'R') &&
        (i == s.length - 1 || s.charAt(i + 1) != 'P')) {
        frags += s.substring(start, i + 1)
        start = i + 1
      }
      i += 1
    }
    if (start < s.length) frags += s.substring(start)
    frags.toSeq
  }

  /** Python slice `s[from:until]` with negative-index translation and
    * clamping — short fragments must permute exactly like the
    * reference's clamped slices ('ABCD' → 'BCDA', not unchanged). */
  private def pySlice(s: String, from: Int, until: Int): String = {
    val n = s.length
    def idx(i: Int) = math.max(0, math.min(n, if (i < 0) i + n else i))
    val a = idx(from)
    val b = idx(until)
    if (a >= b) "" else s.substring(a, b)
  }

  /** Decoy by per-fragment tail rotation (the reference's 'rotate'
    * mutation: frag[:-5] + frag[-3:] + frag[-5:-3], seqproc.py:126-128,
    * including Python's slice clamping for fragments shorter than 5).
    * Deterministic — the seeded-shuffle variants use key-derived seeds
    * instead of the reference's global RNG state. */
  def mutateRotate(sequence: String): String =
    trypticDigest(sequence).map { frag =>
      pySlice(frag, 0, -5) + pySlice(frag, -3, frag.length) +
        pySlice(frag, -5, -3)
    }.mkString

  /** Decoy by shuffling the last ≤5 residues of each fragment with a
    * sequence-derived seed (deterministic analog of the reference's
    * default mutation, seqproc.py:147-149). */
  def mutateShuffleEnd(sequence: String): String = {
    trypticDigest(sequence).map { frag =>
      val k = math.min(5, frag.length)
      val rng = new scala.util.Random(frag.hashCode.toLong)
      val tail = rng.shuffle(frag.takeRight(k).toList).mkString
      frag.dropRight(k) + tail
    }.mkString
  }
}
