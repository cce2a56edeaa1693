package graft.ml

/** Checked-in sentiment classifier: logistic regression over vocabulary
  * presence features (reference seam: internal/impl/huggingface/
  * processor_text_classification.go:13-79 — there an ONNX session; no ONNX
  * runtime exists in this container, so the model is a REAL trained linear
  * model whose weights live in resources and whose training procedure is
  * reproducible code, not a binary blob: see [[NlpTrain]]).
  *
  * Inference contract:
  *  - tokenize: lowercase, non-alphanumerics → space, split;
  *  - z = bias + Σ w_i · [vocab_i present], accumulated IN FILE ORDER
  *    (fixed fold order ⇒ bit-identical doubles across runtimes);
  *  - label = POSITIVE iff z ≥ 0; score = half-up-rounded z (the signed
  *    logit — sigmoid is monotone, so ranking/threshold semantics match a
  *    probability head while staying EXACT arithmetic, replayable by the
  *    DuckDB oracle without transcendental-ulp risk).
  */
object NlpModel {

  final case class Model(bias: Double, vocab: Vector[(String, Double)]) {
    def logit(text: String): Double = {
      val toks: Set[String] =
        if (text == null) Set.empty
        else text.toLowerCase.replaceAll("[^a-z0-9]", " ").split(" +")
          .iterator.filter(_.nonEmpty).toSet
      // fold in file order — parity with the generated oracle SQL
      vocab.foldLeft(bias) { case (z, (w, wt)) =>
        z + wt * (if (toks(w)) 1.0 else 0.0)
      }
    }

    def classify(text: String): (String, Double) = {
      val z = logit(text)
      (if (z >= 0) "POSITIVE" else "NEGATIVE", math.floor(z * 1e6 + 0.5) / 1e6)
    }

    /** DuckDB SQL replaying this exact model over (idCol, textCol) of
      * `table` — generated from the weights so gate parity is by
      * construction. Addition order matches [[logit]]'s fold. */
    def oracleSql(table: String, idCol: String, textCol: String): String = {
      val terms = vocab.map { case (w, wt) =>
        s"+ (${fmt(wt)}) * (CASE WHEN padded LIKE '% $w %' THEN 1.0 ELSE 0.0 END)"
      }.mkString("\n             ")
      s"""WITH tk AS (
           SELECT $idCol AS doc_id,
             ' ' || regexp_replace(lower($textCol), '[^a-z0-9]', ' ', 'g') || ' ' AS padded
           FROM $table),
         z AS (
           SELECT doc_id, (${fmt(bias)})
             $terms AS z
           FROM tk)
         SELECT doc_id,
           CASE WHEN z >= 0 THEN 'POSITIVE' ELSE 'NEGATIVE' END AS label,
           floor(z * 1e6 + 0.5) / 1e6 AS score
         FROM z"""
    }

    private def fmt(d: Double): String = {
      // shortest round-trip decimal (Double.toString) is exact in both
      // JVM parse-back and DuckDB's double literal parser
      val s = d.toString
      if (s.contains('E')) f"$d%.17e" else s
    }
  }

  val ResourcePath = "graft/nlp/sentiment_lr.tsv"

  /** Parse the TSV weight format: first line `__bias__\t<w>`, then one
    * `word\t<w>` per vocab entry, file order significant. */
  def parse(lines: Iterator[String]): Model = {
    val rows = lines.filter(_.nonEmpty).map { l =>
      val Array(w, v) = l.split('\t'); (w, v.toDouble)
    }.toVector
    require(rows.nonEmpty && rows.head._1 == "__bias__", "weights: missing __bias__ header")
    Model(rows.head._2, rows.tail)
  }

  /** JVM-wide cached model (one classpath load per executor). */
  lazy val default: Model = {
    val in = getClass.getClassLoader.getResourceAsStream(ResourcePath)
    require(in != null, s"missing resource $ResourcePath — run `sbt \"runMain graft.ml.NlpTrain\"`")
    try parse(scala.io.Source.fromInputStream(in, "UTF-8").getLines())
    finally in.close()
  }
}
