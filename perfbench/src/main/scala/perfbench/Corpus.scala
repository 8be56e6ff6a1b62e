package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CuratePipeline
import graft.operators.Curation
import graft.sources.{Interchange, Tables}

/** The curation workload's input and its output checks. */
object Corpus {

  /** Writes `<src>/documents.parquet` to `<dst>/documents.parquet` as one
    * file whose row order the seed fixes; the rows themselves do not change.
    */
  def shuffled(spark: SparkSession, src: String, dst: String, seed: Int): Unit = {
    val tmp = s"$dst/.tmp"
    Tables.documents(spark, src)
      .orderBy(xxhash64(lit(seed), col("doc_id")), col("doc_id"))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(s"$dst/documents.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    new File(tmp).listFiles().foreach(_.delete())
    new File(tmp).delete()
  }

  def summaryMap(s: CuratePipeline.Summary): Map[String, Any] = Map(
    "n_input" -> s.nInput, "n_written" -> s.nWritten, "n_tail_dropped" -> s.nTailDropped,
    "n_sequences" -> s.nSequences, "by_split" -> s.bySplit.toSeq.sorted.toMap)

  /** Invariants of a pipeline output directory, each as a count of
    * violations (0 is correct). They are the invariants the program's own
    * sf1 pipeline harness (`graft.dev.Sf1Pipeline`) asserts.
    */
  def violations(spark: SparkSession, out: String, s: CuratePipeline.Summary,
      inBytes: Long): Map[String, Long] = {
    def flag(ok: Boolean) = if (ok) 0L else 1L
    val corpus = spark.read.parquet(s"$out/corpus").cache()
    try {
      val nCorpus = corpus.count()
      val jsonl = Interchange.readJsonl(spark, s"$out/jsonl", corpus.drop("split").schema)
        .cache()
      val manifest = spark.read.parquet(s"$out/pack_manifest")
      val w = Window.orderBy(col("doc_id"))
      val res = Map(
        "summary" -> flag(s.nWritten > 0 && s.nWritten <= s.nInput &&
          s.bySplit.values.sum == s.nWritten && inBytes > 0),
        "corpus_rows" -> flag(nCorpus == s.nWritten),
        "quality_gate" -> corpus.filter(col("n_tokens") < 1).count(),
        "split_stability" -> corpus.withColumn("expected", Curation.splitCol)
          .filter(col("split") =!= col("expected")).count(),
        "email_scrub" -> corpus.filter(col("text").rlike("[a-z0-9._]+@[a-z0-9.]+")).count(),
        "jsonl_corrupt" -> jsonl.filter(col("_corrupt_record").isNotNull).count(),
        "jsonl_rows" -> flag(jsonl.count() == s.nWritten),
        "manifest_rows" -> flag(manifest.count() == s.nWritten),
        "tape_gaps" -> manifest
          .withColumn("prev_end", lag(col("start_off") + col("n_toks"), 1).over(w))
          .filter(col("prev_end").isNotNull && col("prev_end") =!= col("start_off"))
          .count())
      jsonl.unpersist()
      res
    } finally corpus.unpersist()
  }

  private def files(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) files(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    }

  /** Bytes of the data files under `dir` (checksum and marker files excluded). */
  def bytes(dir: File): Long = files(dir).map(_.length()).sum

  def dataFiles(dir: File): Int = files(dir).size
}
