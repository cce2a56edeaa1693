package graft.ml

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** NLP inference processors (reference: internal/impl/huggingface/
  * processor_text_classification.go:13-79, processor_token_classification
  * .go, processor_feature_extraction.go, processor_zero_shot_classification
  * .go — ONNX pipelines run against batches of text).
  *
  * Text CLASSIFICATION is real inference: a trained logistic-regression
  * model with checked-in weights ([[NlpModel]], provenance in
  * [[NlpTrain]]) — no ONNX runtime exists in this container, so the model
  * is linear rather than a transformer, but the forward pass, the learned
  * weights, and the accuracy gate (NlpModelSpec ≥0.9 held-out) are real.
  * NER and the hashed embedding remain deterministic heuristic scorers
  * (declared: a token-classification model needs a tensor runtime).
  *
  * The Spark-side contract is the part that matters at 100 TB:
  *  - `mapPartitions` with ONE model session per partition (session init
  *    is the expensive step; it must amortize across a partition, never
  *    run per row — here the JVM-cached weight load),
  *  - explicit micro-batching inside the partition (tensor runtimes take
  *    [batch, seq] inputs — rows are grouped to `batchSize` first),
  *  - only small outputs (label/score/vector) flow onward; text stays
  *    where it was read.
  */
object Nlp {

  val DefaultBatchSize = 32

  final case class TextLabel(doc_id: Long, label: String, score: Double)
  final case class TokenLabel(doc_id: Long, idx: Int, token: String, label: String)
  final case class TextFeatures(doc_id: Long, feature: Array[Float])

  /** Per-partition model session. Classification runs the trained
    * sentiment LR and NER runs the trained token softmax-LR (both weight
    * sets cached JVM-wide — one classpath load per executor); embedding
    * is the declared heuristic scorer. */
  private final class Session {
    private val model = NlpModel.default
    private val ner = NerModel.default
    def classifyBatch(texts: Array[String]): Array[(String, Double)] =
      texts.map(model.classify)
    def nerBatch(texts: Array[String]): Array[Array[(String, String)]] =
      texts.map(ner.labelTokens)
    def embedBatch(texts: Array[String], dim: Int): Array[Array[Float]] =
      texts.map { t =>
        val v = new Array[Float](dim)
        tokenize(t).foreach { tok =>
          val h = scala.util.hashing.MurmurHash3.stringHash(tok)
          v(math.floorMod(h, dim)) += (if (h < 0) -1f else 1f)
        }
        val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
        if (norm == 0) v else v.map(x => (x / norm).toFloat)
      }
  }

  /** Normalized tokens (classification/embedding path — mirrors the
    * lowercased wordpiece-ish front of a real tokenizer). */
  private def tokenize(t: String): Array[String] =
    if (t == null) Array.empty
    else t.toLowerCase.replaceAll("[^a-z0-9 ]", " ").split(" ").filter(_.nonEmpty)

  /** `nlp_classify_text`: (doc_id, label, score) per document. */
  def classifyText(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                   batchSize: Int = DefaultBatchSize): Dataset[TextLabel] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { rows =>
        val session = new Session // once per partition
        rows.grouped(batchSize).flatMap { batch =>
          val out = session.classifyBatch(batch.map(_._2).toArray)
          batch.iterator.zip(out.iterator).map { case ((id, _), (label, score)) =>
            TextLabel(id, label, score)
          }
        }
      }
  }

  /** `nlp_classify_tokens` (NER): one row per token with its label. */
  def classifyTokens(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                     batchSize: Int = DefaultBatchSize): Dataset[TokenLabel] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { rows =>
        val session = new Session
        rows.grouped(batchSize).flatMap { batch =>
          val out = session.nerBatch(batch.map(_._2).toArray)
          batch.iterator.zip(out.iterator).flatMap { case ((id, _), toks) =>
            toks.iterator.zipWithIndex.map { case ((tok, label), i) =>
              TokenLabel(id, i, tok, label)
            }
          }
        }
      }
  }

  /** `nlp_extract_features`: dense embedding per document (unit-norm).
    * This is the arbitrary-dim HASH embedder (deterministic, untrained);
    * the REAL trained path is [[EmbedModel.extract]] — PPMI+SVD word
    * vectors with checked-in weights and a weight-generated oracle
    * (query: nlp_embed). */
  def extractFeatures(docs: DataFrame, dim: Int = 64,
                      idCol: String = "doc_id", textCol: String = "text",
                      batchSize: Int = DefaultBatchSize): Dataset[TextFeatures] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { rows =>
        val session = new Session
        rows.grouped(batchSize).flatMap { batch =>
          val out = session.embedBatch(batch.map(_._2).toArray, dim)
          batch.iterator.zip(out.iterator).map { case ((id, _), v) =>
            TextFeatures(id, v)
          }
        }
      }
  }

  /** `nlp_zero_shot_classify`: score each candidate label by token overlap
    * (stub scorer), return the argmax label per document — pure Column
    * math over the tokenized text, no UDF, stays in codegen. */
  def zeroShot(docs: DataFrame, labels: Seq[String],
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = split(regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", " "), " +")
    val scored = labels.map { l =>
      struct(
        size(filter(toks, t => t === lit(l))).cast("double").as("score"),
        lit(l).as("label"))
    }
    docs.select(
      col(idCol).cast("long").as(idCol),
      sort_array(array(scored: _*), asc = false).getItem(0).as("best"))
      .select(col(idCol), col("best.label").as("label"), col("best.score").as("score"))
  }
}
