package perfbench

import graft.core.StageId
import graft.functions.{BpeEncoder, BpeTrain, BpeVocab}
import graft.llm.{Dedup, Sampling, TextAnalysis}
import graft.sources.{ParquetSink, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pre-training corpus pass, composed from the public calls the
  * `Pipelines.pretrainCorpus` recipe documents: normalize, page gates,
  * repetition gate, C4 line clean, PII scrub and quality score, then
  * banded MinHash-LSH candidate pairs (hashed token ids, Jaccard >= 0.7),
  * BPE token ids and sequence packing, all written to parquet.
  *
  * The recipe's keep-best and bucket steps are left out: on this corpus
  * their driver-side planning alone takes longer than a benchmark run may.
  */
final class LlmPretrain(spark: SparkSession, data: String, scratch: String, tr: Tracer) extends Workload {
  val MinJaccard = 0.7
  val SeqLen = 2048L
  private var encoder: BpeEncoder = _

  def prepare(): Unit = {
    encoder = trainEncoder(Tables.load(spark, data, "documents"))
    op(data, s"$scratch/warm")
  }

  def run(i: Int, out: String): Map[String, Double] = op(data, out)

  /** Byte-level BPE trained on the corpus; ids = byte alphabet, then merges in rank order. */
  private def trainEncoder(docs: DataFrame): BpeEncoder = {
    val vocab = BpeTrain.train(docs, "text", numMerges = 256)
    val merged = vocab.ranks.toSeq.sortBy(_._2).map { case ((l, r), _) => l + r }
    BpeEncoder(vocab, (BpeVocab.byteToChar.map(_.toString).toSeq ++ merged).distinct.zipWithIndex.toMap)
  }

  private def op(dir: String, out: String): Map[String, Double] = {
    val text = col("text")
    val docs = tr.span("sources.scan")(tr.force(
      Tables.load(spark, dir, "documents").select(col("doc_id"), text, col("lang"))))
    val normed = tr.span("functions.normalize")(tr.force(docs.withColumn("text", TextAnalysis.normalizeText(text))))
    val qualityOk = tr.span("functions.gates")(tr.force(normed
      .withColumn("_q", TextAnalysis.gopherQualityFlags(text))
      .withColumn("_c4", TextAnalysis.c4DocFlags(text))
      .filter(col("_q.ok_length") && col("_q.ok_word_len") && col("_q.ok_symbols") &&
        col("_q.ok_bullets") && col("_q.ok_ellipsis") && col("_q.ok_alpha") &&
        col("_c4.ok_sentences") && col("_c4.ok_no_braces") && col("_c4.ok_no_lorem"))
      .drop("_q", "_c4")))
    val lined = tr.span("functions.gates") {
      val rep = TextAnalysis.gopherRepetitionFlags(TextAnalysis.gopherRepetitionStats(qualityOk, "doc_id", "text"))
      val repOk = rep.filter(rep.columns.filter(_.startsWith("ok_")).map(col).reduce(_ && _)).select(col("doc_id"))
      tr.force(qualityOk.join(repOk, Seq("doc_id"), "left_semi").withColumn("text", TextAnalysis.c4CleanLines(text)))
    }
    // the staged corpus is read four times below, so it is persisted in
    // every mode, as the recipe does
    val staged = tr.span("functions.pii")(tr.force(lined
      .withColumn("text", TextAnalysis.redactPii(text))
      .withColumn("score", TextAnalysis.qualityScore(text))
      .persist(StorageLevel.MEMORY_AND_DISK)))
    try {
      val index = tr.span("functions.minhash")(tr.force(
        Dedup.BandIndex.build(staged, "doc_id", "text", hashedTokenIds = true)))
      val candidates = tr.span("llm.lsh")(tr.force(Dedup.minHashLshCandidatesFromIndex(index)))
      val pairs = candidates.filter(col("est_jaccard") >= MinJaccard)
      val counters =
        if (!tr.on) Map.empty[String, Double]
        else Map("candidate_pairs" -> candidates.count().toDouble, "useful_pairs" -> pairs.count().toDouble)
      val ids = tr.span("functions.bpe")(tr.force(
        staged.select(col("doc_id"), TextAnalysis.tokenIdsBpe(text, encoder).as("ids"))))
      val packed = tr.span("llm.pack")(tr.force(Sampling.packTokenSequences(
        ids.select(col("doc_id"), size(col("ids")).cast("long").as("n")), "doc_id", "n", SeqLen)))
      tr.span("sources.write") {
        ParquetSink(StageId("staged"), s"$out/staged")(staged.select(col("doc_id"), col("lang"), col("score"),
          TextAnalysis.tokenCountWs(text).cast("long").as("n_tokens")))
        ParquetSink(StageId("pairs"), s"$out/pairs")(pairs)
        ParquetSink(StageId("token_ids"), s"$out/token_ids")(ids)
        ParquetSink(StageId("packed"), s"$out/packed")(packed)
      }
      counters
    } finally staged.unpersist(blocking = true)
  }
}
