package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Analytics, Clustering, Curation, Dedup, ExactGrid,
  Similarity, TextFunctions}
import graft.OracleSql.{adaptiveKSql, det4, gram4Name, kmeansCtes, roundSpark}
import graft.queries.QueryKit._

/** In-engine model training and evaluation, recommenders, preference
  * models and clustering.
  */
object MlQueries {

  val defs: Seq[QueryDef] = Seq(
    locally {
      val iters = 3
      QueryDef("ml_logreg_train", (s, dir) => {
        // distributed logistic-regression TRAINING inside the engine: 3
        // full-batch gradient-descent rounds for P(lang = en | length,
        // token count, distinct-token ratio). The scale pattern is the
        // k-means one: per-round state is 4 doubles on the driver, and
        // each round is ONE map-side-combined aggregate over the
        // (checkpointed) feature frame — per-sample gradient
        // contributions are rounded to e6-scaled BIGINTs BEFORE the sum,
        // so the reduction is exact integer math under any partitioning
        // and the unrolled SQL oracle reproduces it bit-for-bit.
        val toks = Dedup.tokens(col("text"))
        val feat = t(s, dir, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(
            (length(col("text")).cast("double") / 1000.0).as("x1"),
            (size(toks).cast("double") / 100.0).as("x2"),
            (size(array_distinct(toks)).cast("double") /
              greatest(size(toks), lit(1)).cast("double")).as("x3"),
            (col("lang") === "en").cast("int").cast("double").as("y"))
          .localCheckpoint(false) // 3 GD rounds + final eval re-read it
          // (lazy, r15: round 1's aggregate materializes it in-action)
        val n = feat.count()
        val lr = 0.1
        var w = Array(0.0, 0.0, 0.0, 0.0) // bias, w1, w2, w3
        for (_ <- 1 to iters) {
          val z = lit(w(0)) + lit(w(1)) * col("x1") +
            lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
          val p = lit(1.0) / (lit(1.0) + exp(-z))
          def g(x: Column) = sum(
            round((p - col("y")) * x * 1000000.0, 0).cast("long"))
          val r = feat.agg(g(lit(1.0)).as("gb"), g(col("x1")).as("g1"),
            g(col("x2")).as("g2"), g(col("x3")).as("g3")).head()
          w = Array.tabulate(4)(j =>
            w(j) - lr * ((r.getLong(j).toDouble / 1000000.0) / n))
        }
        val zf = lit(w(0)) + lit(w(1)) * col("x1") +
          lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
        val pf = lit(1.0) / (lit(1.0) + exp(-zf))
        feat.agg(
            count(lit(1)).as("n"),
            sum(((pf >= 0.5).cast("int") === col("y").cast("int"))
              .cast("long")).as("correct"),
            sum(round(-(col("y") * log(pf) +
              (lit(1.0) - col("y")) * log(lit(1.0) - pf)) * 1000000.0, 0)
              .cast("long")).as("loss_e6"))
          .select(
            // Spark round (HALF_UP, away from zero) matches DuckDB
            // round; scala math.round rounds negative halves the other
            // way — keep the rounding in the engine's expression domain
            round(lit(w(0)) * 1000000.0, 0).cast("long").as("b_e6"),
            round(lit(w(1)) * 1000000.0, 0).cast("long").as("w1_e6"),
            round(lit(w(2)) * 1000000.0, 0).cast("long").as("w2_e6"),
            round(lit(w(3)) * 1000000.0, 0).cast("long").as("w3_e6"),
            col("n"), col("correct"), col("loss_e6"))
      }, {
        // Oracle for `ml_logreg_train`: the 3-round full-batch gradient
        // descent unrolled as a CTE chain. Each round's gradient is the sum
        // of PER-SAMPLE e6-scaled rounded BIGINTs (exactly the engine's
        // map-side integer reduction), and the weight updates replay the
        // identical double arithmetic `w − 0.1·((G/1e6)/n)` — so weights,
        // accuracy, and the e6-scaled log loss are bit-stable cross-engine.
        def z(w: String) =
          s"($w.b + $w.w1*f.x1 + $w.w2*f.x2 + $w.w3*f.x3)"
        def p(w: String) = s"(1.0/(1.0 + exp(-${z(w)})))"
        def g(w: String, x: String) =
          s"sum(round(((${p(w)} - f.y) * $x) * 1000000.0)::BIGINT)::BIGINT"
        val sb = new StringBuilder
        sb ++=
          s"""WITH feat AS (
             |  SELECT (length(text)::DOUBLE / 1000.0) AS x1,
             |    (len(a)::DOUBLE / 100.0) AS x2,
             |    (len(list_distinct(a))::DOUBLE
             |      / greatest(len(a), 1)::DOUBLE) AS x3,
             |    (lang = 'en')::INT::DOUBLE AS y
             |  FROM (SELECT lang, text,
             |      regexp_split_to_array(lower(trim(text)), '\\s+') AS a
             |    FROM documents WHERE length(trim(text)) > 0)),
             |c AS (SELECT count(*)::BIGINT AS n FROM feat),
             |w0 AS (SELECT 0.0::DOUBLE AS b, 0.0::DOUBLE AS w1,
             |       0.0::DOUBLE AS w2, 0.0::DOUBLE AS w3)""".stripMargin
        for (i <- 1 to iters) {
          val pw = s"w${i - 1}"
          sb ++=
            s""",
               |g$i AS (SELECT ${g("w", "1.0")} AS gb,
               |  ${g("w", "f.x1")} AS g1,
               |  ${g("w", "f.x2")} AS g2,
               |  ${g("w", "f.x3")} AS g3
               |  FROM feat f CROSS JOIN $pw w),
               |w$i AS (SELECT
               |  w.b - 0.1::DOUBLE * ((g.gb::DOUBLE / 1000000.0) / c.n) AS b,
               |  w.w1 - 0.1::DOUBLE * ((g.g1::DOUBLE / 1000000.0) / c.n) AS w1,
               |  w.w2 - 0.1::DOUBLE * ((g.g2::DOUBLE / 1000000.0) / c.n) AS w2,
               |  w.w3 - 0.1::DOUBLE * ((g.g3::DOUBLE / 1000000.0) / c.n) AS w3
               |  FROM $pw w, g$i g, c)""".stripMargin
        }
        sb ++=
          s"""
             |, fin AS (SELECT f.y, ${p("w")} AS p
             |  FROM feat f CROSS JOIN w$iters w),
             |m AS (SELECT count(*)::BIGINT AS n,
             |  sum(((p >= 0.5)::INT = y::INT)::BIGINT)::BIGINT AS correct,
             |  sum(round((-(y * ln(p) + (1.0 - y) * ln(1.0 - p)))
             |    * 1000000.0)::BIGINT)::BIGINT AS loss_e6
             |  FROM fin)
             |SELECT round(w.b * 1000000.0)::BIGINT AS b_e6,
             |  round(w.w1 * 1000000.0)::BIGINT AS w1_e6,
             |  round(w.w2 * 1000000.0)::BIGINT AS w2_e6,
             |  round(w.w3 * 1000000.0)::BIGINT AS w3_e6,
             |  m.n, m.correct, m.loss_e6
             |FROM w$iters w CROSS JOIN m""".stripMargin
        sb.toString
      })
    },

    QueryDef("ml_naive_bayes", (s, dir) => {
      // in-engine multinomial naive-Bayes TRAINING + scoring: class-
      // conditional token log-probabilities (add-one smoothing) learned
      // from the corpus, every doc scored against all classes, argmax
      // prediction, confusion matrix out. All log weights round to
      // e6-scaled BIGINTs at the (class, token) grain — vocabulary-
      // sized, broadcastable — so doc scores are EXACT integer sums
      // under any partitioning; unseen (class, token) mass folds in
      // closed form as (total_tf − matched_tf)·w0_c, never a grid
      // materialization of vocab × classes × docs.
      // (no scan spread here: the frame feeds three separate actions —
      // count, the tok checkpoint, the prior rollup — and each would
      // re-pay the exchange; measured net-negative in r14)
      val docs = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
      // OPTIMIZATION r15 (VERDICT r14 #6): the three builder actions —
      // eager tok checkpoint, vocab distinct count, doc count — fold
      // into ONE: the checkpoint is lazy and a single head() over
      // (count_distinct(token) × count(docs)) materializes tok's blocks
      // and returns both scalars in the same job wave.
      val tok = docs
        .select(col("doc_id"), col("lang"),
          explode(Dedup.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "lang", "token")
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(false) // counts, vocab, and scoring all read it
      val hdr = tok.agg(count_distinct(col("token")).as("v"))
        .crossJoin(docs.agg(count(lit(1)).as("n")))
        .head()
      val vocabN = hdr.getLong(0)
      val nTot = hdr.getLong(1)
      val ct = tok.groupBy(col("lang").as("pred_lang"), col("token"))
        .agg(sum("tf").as("c"))
      val tc = ct.groupBy("pred_lang").agg(sum("c").as("t_c"))
        .withColumn("w0", round(lit(1000000.0) *
          log(lit(1.0) / (col("t_c") + lit(vocabN)).cast("double")), 0)
          .cast("long"))
      val prior = docs.groupBy(col("lang").as("pred_lang"))
        .agg(count(lit(1)).as("n_c"))
        .withColumn("prior_w", round(lit(1000000.0) *
          log(col("n_c").cast("double") / lit(nTot)), 0).cast("long"))
      val cw = ct.join(tc.select("pred_lang", "t_c"), Seq("pred_lang"))
        .withColumn("w", round(lit(1000000.0) *
          log((col("c") + lit(1)).cast("double") /
            (col("t_c") + lit(vocabN)).cast("double")), 0).cast("long"))
        .select("pred_lang", "token", "w")
      val docTot = tok.groupBy("doc_id")
        .agg(sum("tf").as("total_tf"))
      val matched = tok.join(cw, Seq("token"))
        .groupBy("doc_id", "lang", "pred_lang")
        .agg(sum(col("tf") * col("w")).as("present_sum"),
          sum(col("tf")).as("present_tf"))
      val scored = matched
        .join(docTot, Seq("doc_id"))
        .join(broadcast(tc.select("pred_lang", "w0")), Seq("pred_lang"))
        .join(broadcast(prior.select("pred_lang", "prior_w")),
          Seq("pred_lang"))
        .withColumn("score", col("prior_w") + col("present_sum") +
          (col("total_tf") - col("present_tf")) * col("w0"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("pred_lang").asc)
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
    },
      """WITH d AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE length(trim(text)) > 0),
        |tok AS MATERIALIZED (
        |  SELECT doc_id, lang, token, count(*)::BIGINT AS tf FROM (
        |    SELECT doc_id, lang, unnest(
        |      regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |    FROM d)
        |  GROUP BY 1, 2, 3),
        |v AS (SELECT count(DISTINCT token)::BIGINT AS vn FROM tok),
        |nt AS (SELECT count(*)::BIGINT AS n FROM d),
        |ct AS (SELECT lang AS pred_lang, token, sum(tf)::BIGINT AS c
        |       FROM tok GROUP BY 1, 2),
        |tc AS (SELECT pred_lang, sum(c)::BIGINT AS t_c FROM ct
        |       GROUP BY 1),
        |tcw AS (SELECT pred_lang, t_c,
        |  round(1000000.0 * ln(1.0 / (t_c + v.vn)::DOUBLE))::BIGINT
        |    AS w0
        |  FROM tc, v),
        |prior AS (SELECT lang AS pred_lang, count(*)::BIGINT AS n_c
        |          FROM d GROUP BY 1),
        |priorw AS (SELECT pred_lang,
        |  round(1000000.0 * ln(n_c::DOUBLE / nt.n))::BIGINT AS prior_w
        |  FROM prior, nt),
        |cw AS (SELECT ct.pred_lang, ct.token,
        |  round(1000000.0 * ln((ct.c + 1)::DOUBLE
        |    / (tc.t_c + v.vn)::DOUBLE))::BIGINT AS w
        |  FROM ct JOIN tc USING (pred_lang), v),
        |dt AS (SELECT doc_id, sum(tf)::BIGINT AS total_tf FROM tok
        |       GROUP BY 1),
        |m AS (SELECT t.doc_id, t.lang, c.pred_lang,
        |  sum(t.tf * c.w)::BIGINT AS present_sum,
        |  sum(t.tf)::BIGINT AS present_tf
        |  FROM tok t JOIN cw c USING (token) GROUP BY 1, 2, 3),
        |sc AS (SELECT m.doc_id, m.lang, m.pred_lang,
        |  pw.prior_w + m.present_sum
        |    + (dt.total_tf - m.present_tf) * tw.w0 AS score
        |  FROM m JOIN dt USING (doc_id) JOIN tcw tw USING (pred_lang)
        |  JOIN priorw pw USING (pred_lang)),
        |rk AS (SELECT lang, pred_lang, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, pred_lang ASC)
        |    AS rn
        |  FROM sc)
        |SELECT lang, pred_lang, count(*)::BIGINT AS n
        |FROM rk WHERE rn = 1 GROUP BY 1, 2""".stripMargin),

    QueryDef("ml_calibration_bins", (s, dir) => {
      // reliability diagram for the keep-prob gate: decile bins of the
      // predicted probability vs the empirical rate of the quality
      // pseudo-label. Bins come from the EXACT 4-dp scaled-integer
      // prob (p4 div 1000), so bucketing can't straddle a float ulp;
      // one map-only scoring pass + a 10-group rollup.
      val docs = t(s, dir, "documents")
      val quality = TextFunctions.qualityScore(col("text"))
      val lenNorm = least(
        TextFunctions.tokenCount(col("text")).cast("double") / lit(256.0),
        lit(1.0))
      val prob = Curation.linearKeepProb(-1.4, quality -> 2.2,
        lenNorm -> 1.1)
      docs.select(
          round(prob * 10000).cast("long").as("p4"),
          when(quality >= 0.5, 1L).otherwise(0L).as("pos"))
        .select(least(col("p4") / 1000, lit(9L)).cast("int").as("bin"),
          col("p4"), col("pos"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          // exact 6-dp grid (r13 determinism ledger): integer half-up
          (expr("cast((2 * sum(p4) * 100 + count(1)) div" +
            " (2 * count(1)) as double)") / 1000000.0).as("mean_prob"),
          (expr("cast((2 * sum(pos) * 1000000 + count(1)) div" +
            " (2 * count(1)) as double)") / 1000000.0).as("label_rate"))
    },
      s"""WITH q AS ($QualityOracle),
         |n AS (
         |  SELECT doc_id,
         |    (CASE WHEN length(trim(text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT
         |      AS n_tokens
         |  FROM documents),
         |z AS (
         |  SELECT q.doc_id, q.quality,
         |    -1.4 + q.quality * 2.2 +
         |      least(n.n_tokens / 256.0, 1.0) * 1.1 AS z
         |  FROM q JOIN n USING (doc_id)),
         |p AS (
         |  SELECT doc_id, quality,
         |    round(CAST(CAST((0.5 + 0.5 * z / (1.0 + abs(z)))
         |      AS VARCHAR) AS DECIMAL(38,20)), 4)::DOUBLE AS keep_prob
         |  FROM z),
         |sc AS (
         |  SELECT CAST(round(keep_prob * 10000) AS BIGINT) AS p4,
         |    CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END AS pos
         |  FROM p)
         |SELECT least(p4 // 1000, 9)::INT AS bin,
         |  count(*)::BIGINT AS n_docs,
         |  ((2 * sum(p4)::HUGEINT * 100 + count(*))
         |    // (2 * count(*)))::DOUBLE / 1000000.0 AS mean_prob,
         |  ((2 * sum(pos)::HUGEINT * 1000000 + count(*))
         |    // (2 * count(*)))::DOUBLE / 1000000.0 AS label_rate
         |FROM sc GROUP BY 1""".stripMargin),

    QueryDef("ml_eval_metrics", (s, dir) => {
      // threshold sweep for the same gate: precision/recall/F1/accuracy
      // at 9 operating points in ONE scan — docs cross the broadcast
      // 9-row threshold frame, and the map-side-combined rollup leaves
      // 9 rows. Ratios are single divisions of exact integer counts
      // (F1 in the 2tp/(2tp+fp+fn) form — no nested rounding).
      val docs = t(s, dir, "documents")
      val quality = TextFunctions.qualityScore(col("text"))
      val lenNorm = least(
        TextFunctions.tokenCount(col("text")).cast("double") / lit(256.0),
        lit(1.0))
      val prob = Curation.linearKeepProb(-1.4, quality -> 2.2,
        lenNorm -> 1.1)
      val scored = docs.select(
        round(prob * 10000).cast("long").as("p4"),
        when(quality >= 0.5, 1L).otherwise(0L).as("pos"))
      import s.implicits._
      val thdf = (1 to 9).map(_ * 1000).toDF("threshold_p4")
      scored.crossJoin(broadcast(thdf))
        .groupBy("threshold_p4")
        .agg(
          sum(when(col("p4") >= col("threshold_p4") &&
            col("pos") === 1L, 1L).otherwise(0L)).as("tp"),
          sum(when(col("p4") >= col("threshold_p4") &&
            col("pos") === 0L, 1L).otherwise(0L)).as("fp"),
          sum(when(col("p4") < col("threshold_p4") &&
            col("pos") === 1L, 1L).otherwise(0L)).as("fn"),
          sum(when(col("p4") < col("threshold_p4") &&
            col("pos") === 0L, 1L).otherwise(0L)).as("tn"))
        .select(col("threshold_p4"), col("tp"), col("fp"), col("fn"),
          col("tn"),
          ExactGrid.eRatio(col("tp"), nullif(col("tp") + col("fp"), lit(0L)),
            1000000L).as("precision"),
          ExactGrid.eRatio(col("tp"), nullif(col("tp") + col("fn"), lit(0L)),
            1000000L).as("recall"),
          ExactGrid.eRatio(col("tp") * 2,
            nullif(col("tp") * 2 + col("fp") + col("fn"), lit(0L)),
            1000000L).as("f1"),
          ExactGrid.eRatio(col("tp") + col("tn"),
            col("tp") + col("fp") + col("fn") + col("tn"), 1000000L)
            .as("accuracy"))
    },
      s"""WITH q AS ($QualityOracle),
         |n AS (
         |  SELECT doc_id,
         |    (CASE WHEN length(trim(text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT
         |      AS n_tokens
         |  FROM documents),
         |z AS (
         |  SELECT q.doc_id, q.quality,
         |    -1.4 + q.quality * 2.2 +
         |      least(n.n_tokens / 256.0, 1.0) * 1.1 AS z
         |  FROM q JOIN n USING (doc_id)),
         |p AS (
         |  SELECT doc_id, quality,
         |    round(CAST(CAST((0.5 + 0.5 * z / (1.0 + abs(z)))
         |      AS VARCHAR) AS DECIMAL(38,20)), 4)::DOUBLE AS keep_prob
         |  FROM z),
         |sc AS (
         |  SELECT CAST(round(keep_prob * 10000) AS BIGINT) AS p4,
         |    CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END AS pos
         |  FROM p),
         |th AS (SELECT unnest([1000, 2000, 3000, 4000, 5000, 6000,
         |    7000, 8000, 9000]) AS threshold_p4),
         |m AS (
         |  SELECT threshold_p4,
         |    sum(CASE WHEN p4 >= threshold_p4 AND pos = 1
         |      THEN 1 ELSE 0 END)::BIGINT AS tp,
         |    sum(CASE WHEN p4 >= threshold_p4 AND pos = 0
         |      THEN 1 ELSE 0 END)::BIGINT AS fp,
         |    sum(CASE WHEN p4 < threshold_p4 AND pos = 1
         |      THEN 1 ELSE 0 END)::BIGINT AS fn,
         |    sum(CASE WHEN p4 < threshold_p4 AND pos = 0
         |      THEN 1 ELSE 0 END)::BIGINT AS tn
         |  FROM sc CROSS JOIN th GROUP BY 1)
         |SELECT threshold_p4::INT AS threshold_p4, tp, fp, fn, tn,
         |  ${OracleSql.eRatioE("tp", "nullif(tp + fp, 0)", 1000000L)}
         |    AS "precision",
         |  ${OracleSql.eRatioE("tp", "nullif(tp + fn, 0)", 1000000L)} AS recall,
         |  ${OracleSql.eRatioE("tp * 2", "nullif(tp * 2 + fp + fn, 0)", 1000000L)}
         |    AS f1,
         |  ${OracleSql.eRatioE("tp + tn", "tp + fp + fn + tn", 1000000L)}
         |    AS accuracy
         |FROM m""".stripMargin),

    locally {
      val (k, dim) = (5, EmbeddingDim)
      QueryDef("ml_knn_classify", (s, dir) => {
        // k-NN classification harness over the int8-quantized codes:
        // a FIXED eval set (every 5th id below 2500 — an eval harness
        // is a fixed benchmark, not a corpus-proportional sweep; at the
        // gate fixtures ids stop well under 2500 so the set is the full
        // 1-in-5 slice there) classified by the 5-nearest majority
        // among the rest of the corpus. Quantized codes make every
        // squared distance an exact long (native int8_sqdist), so
        // neighbor sets, ranking, and tie-breaks (distance, then id;
        // majority ties toward the smaller label) are engine-
        // independent. This is the label-propagation shape that
        // bootstraps training labels from a seed set. Scale: the
        // bounded eval set broadcasts against ONE corpus scan — wall
        // grows linearly with the corpus (measured: the corpus-
        // proportional variant was 153× at the 10× fixture; the fixed
        // set is linear), top-k via the per-query window on the
        // candidate frame.
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            Similarity.quantize(col("embedding"))._2.as("qv"))
          .localCheckpoint(true) // query + corpus sides share the encode
        val queries = broadcast(
          emb.filter(pmod(col("vec_id"), lit(5)) === 0 &&
              col("vec_id") < 2500)
            .select(col("vec_id").as("query_id"),
              col("label").as("true_label"), col("qv").as("q_qv")))
        val corpus = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
          .select(col("vec_id").as("neighbor_id"),
            col("label").as("n_label"), col("qv").as("c_qv"))
        // native fused integer loop (codegen'd) — the zip_with+aggregate
        // composition is result-identical (exact integer sums) but runs
        // an interpreted lambda per element per candidate; measured
        // 8.85 s → native at sf0.1 (4M candidates × 64 dims)
        val d2 = graft.expressions.exprs.int8_sqdist(
          col("q_qv"), col("c_qv"))
        val wK = Window.partitionBy("query_id")
          .orderBy(col("d2").asc, col("neighbor_id").asc)
        corpus.crossJoin(queries)
          .withColumn("d2", d2)
          .withColumn("rank", row_number().over(wK))
          .filter(col("rank") <= k)
          .groupBy("query_id", "true_label", "n_label")
          .agg(count(lit(1)).as("votes"))
          .groupBy("query_id", "true_label")
          .agg(min(struct((-col("votes")).as("nv"),
            col("n_label").as("l"))).as("win"))
          .select(col("query_id"), col("true_label"),
            col("win.l").as("pred_label"), (-col("win.nv")).as("votes"),
            (col("win.l") === col("true_label")).as("correct"))
      }, {
        // Oracle for `ml_knn_classify`: the same int8 quantization CTE as the
        // `sim_quantized_topk` oracle (with the label carried), exact BIGINT
        // squared distances, per-query rank window (d2 ASC, neighbor ASC),
        // 5-vote majority with ties toward the smaller label.
        val d2 = s"list_sum(list_transform(range(1, ${dim + 1}), " +
          "i -> (q.q_qv[i] - c.c_qv[i])::BIGINT * " +
          "(q.q_qv[i] - c.c_qv[i])::BIGINT))::BIGINT"
        s"""WITH base AS (
           |  SELECT vec_id, label, embedding::DOUBLE[] AS v
           |  FROM embeddings),
           |scaled AS (
           |  SELECT vec_id, label, v,
           |    CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
           |         THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
           |         ELSE 1.0 END AS sc
           |  FROM base),
           |qz AS MATERIALIZED (
           |  SELECT vec_id, label,
           |    list_transform(v, x -> CAST(${roundSpark("x * sc", 0)}
           |      AS INTEGER)) AS qv
           |  FROM scaled),
           |q AS (SELECT vec_id AS query_id, label AS true_label,
           |    qv AS q_qv FROM qz WHERE vec_id % 5 = 0 AND vec_id < 2500),
           |c AS (SELECT vec_id AS neighbor_id, label AS n_label,
           |    qv AS c_qv FROM qz WHERE vec_id % 5 <> 0),
           |kd AS (
           |  SELECT q.query_id, q.true_label, c.neighbor_id, c.n_label,
           |    $d2 AS d2
           |  FROM q CROSS JOIN c),
           |rk AS (
           |  SELECT query_id, true_label, n_label,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY d2 ASC, neighbor_id ASC) AS rank
           |  FROM kd),
           |votes AS (
           |  SELECT query_id, true_label, n_label,
           |    count(*)::BIGINT AS votes
           |  FROM rk WHERE rank <= $k GROUP BY 1, 2, 3),
           |win AS (
           |  SELECT query_id, true_label, n_label AS pred_label, votes,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY votes DESC, n_label ASC) AS rn
           |  FROM votes)
           |SELECT query_id, true_label, pred_label, votes,
           |  (pred_label = true_label) AS correct
           |FROM win WHERE rn = 1""".stripMargin
      })
    },

    locally {
      val (iters, targetClusterSize, minK, dim) = (3, 256, 8, EmbeddingDim)
      QueryDef("cluster_kmeans", (s, dir) => {
        // cosine k-means (3 Lloyd rounds, lowest-id seeds): per-round
        // cost = one broadcast-literal map pass + a (cluster, dim) agg —
        // no vector shuffle; the oracle unrolls the identical rounds.
        // Cluster count adapts to the corpus (fixed k at 10x the corpus
        // means 10x members and 100x semantic-dedup pair work — the same
        // cliff the count-adaptive LSH resolution closes)
        Clustering.kmeansAssignAdaptive(t(s, dir, "embeddings"),
          "vec_id", "embedding", iters, targetClusterSize, minK)
      },
        // Oracle for `cluster_kmeans`: final Lloyd assignment with the
        // 4-decimal-rounded cosine to the winning centroid; cluster count
        // adapts to the corpus like the engine's.
        s"""WITH ${kmeansCtes(adaptiveKSql(targetClusterSize, minK), iters, dim)}
           |SELECT vec_id, cluster, ${roundSpark("sim", 4)} AS sim
           |FROM fin""".stripMargin)
    },

    locally {
      val (k, dim) = (4, EmbeddingDim)
      QueryDef("cluster_farthest_first", (s, dir) => {
        // Gonzalez farthest-first traversal (1985): k-CENTER coverage
        // over int8-quantized embedding codes — the greedy
        // 2-approximation every coreset selector starts from, and the
        // diversity complement of k-means' density-seeking (SemDeDup
        // keeps dense centers; k-center covers the FRINGE, which is
        // where a training corpus's rare modes live). Quantized codes
        // make every squared distance an exact long (Σ Δ² over int8
        // components), so argmax/argmin are exact integer comparisons —
        // no float tie ambiguity anywhere. Scale shape: k−1 distributed
        // argmax passes (TakeOrdered(1): map + tiny reduce, the corpus
        // never shuffles) over the ONCE-quantized checkpointed frame,
        // one assignment pass, driver state = k codes.
        val q = t(s, dir, "embeddings")
          .select(col("vec_id"),
            Similarity.quantize(col("embedding"))._2.as("qv"))
          .localCheckpoint(true) // quantize once; k+1 passes reuse it
        def d2To(center: Array[Int]): Column =
          graft.expressions.exprs.int8_sqdist(col("qv"),
            array(center.map(lit(_)): _*))
        val first = q.orderBy(col("vec_id").asc).limit(1)
          .select(col("vec_id"), col("qv")).collect()(0)
        var centers = Vector(
          (first.getLong(0), first.getSeq[Int](1).toArray))
        while (centers.size < k) {
          val dmin = centers.map(c => d2To(c._2)).reduce(least(_, _))
          val nxt = q.withColumn("dmin", dmin)
            .orderBy(col("dmin").desc, col("vec_id").asc).limit(1)
            .select(col("vec_id"), col("qv")).collect()(0)
          centers = centers :+
            ((nxt.getLong(0), nxt.getSeq[Int](1).toArray))
        }
        val best = array_min(array(centers.map { case (cid, cv) =>
          struct(d2To(cv).as("dd"), lit(cid).as("cid"))
        }: _*))
        q.withColumn("best", best)
          .groupBy(col("best.cid").as("center_id"))
          .agg(count(lit(1)).as("n_assigned"),
            max(col("best.dd")).as("radius_sq"))
      }, {
        // Oracle for `cluster_farthest_first`: the Gonzalez traversal unrolled
        // — the int8 quantization CTE (same formulation as the
        // `sim_quantized_topk` oracle), then per round an
        // argmax-of-min-distance selection (ORDER BY dmin DESC, vec_id ASC
        // LIMIT 1, matching the engine's TakeOrdered tie-break) with exact
        // BIGINT squared distances, then the nearest-center assignment rollup.
        // Every CTE in the sequential chain is MATERIALIZED (per-reference
        // inlining re-evaluates the whole prefix otherwise).
        def dist(a: String, b: String) =
          s"list_sum(list_transform(range(1, ${dim + 1}), " +
            s"i -> ($a[i] - $b[i])::BIGINT * ($a[i] - $b[i])::BIGINT))::BIGINT"
        val sb = new StringBuilder
        sb.append(
          s"""WITH base AS MATERIALIZED (
             |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |scaled AS (
             |  SELECT vec_id, v,
             |    CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
             |         THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
             |         ELSE 1.0 END AS sc
             |  FROM base),
             |qz AS MATERIALIZED (
             |  SELECT vec_id,
             |    list_transform(v, x -> CAST(${roundSpark("x * sc", 0)}
             |      AS INTEGER)) AS qv
             |  FROM scaled),
             |c1 AS MATERIALIZED (
             |  SELECT vec_id AS cid, qv FROM qz ORDER BY vec_id ASC LIMIT 1),
             |d1 AS MATERIALIZED (
             |  SELECT q.vec_id, q.qv, ${dist("q.qv", "c.qv")} AS dmin
             |  FROM qz q CROSS JOIN c1 c)""".stripMargin)
        for (r <- 2 to k) {
          sb.append(
            s""",
               |c$r AS MATERIALIZED (
               |  SELECT vec_id AS cid, qv FROM d${r - 1}
               |  ORDER BY dmin DESC, vec_id ASC LIMIT 1)""".stripMargin)
          if (r < k) sb.append(
            s""",
               |d$r AS MATERIALIZED (
               |  SELECT d.vec_id, d.qv,
               |    least(d.dmin, ${dist("d.qv", "c.qv")}) AS dmin
               |  FROM d${r - 1} d CROSS JOIN c$r c)""".stripMargin)
        }
        sb.append(
          s""",
             |cents AS (${(1 to k).map(r => s"SELECT cid, qv FROM c$r")
            .mkString(" UNION ALL ")}),
             |ad AS (
             |  SELECT q.vec_id, c.cid, ${dist("q.qv", "c.qv")} AS dd
             |  FROM qz q CROSS JOIN cents c),
             |best AS (
             |  SELECT vec_id, cid, dd, row_number() OVER (
             |    PARTITION BY vec_id ORDER BY dd ASC, cid ASC) AS rn
             |  FROM ad)
             |SELECT cid AS center_id, count(*)::BIGINT AS n_assigned,
             |  max(dd)::BIGINT AS radius_sq
             |FROM best WHERE rn = 1 GROUP BY cid""".stripMargin)
        sb.toString
      })
    },

    QueryDef("recs_item_cosine", (s, dir) => {
      // item-item collaborative filtering: top-3 neighbors per part by
      // co-purchase cosine. Squared cosine in exact ppm
      // (co²·10⁶ div (ca·cb)) keeps the ranking integer-exact without
      // sqrt; monotone in cosine, so the order is the same. Pair
      // fan-out stays WITHIN an order (bounded basket); the ranking
      // window runs on the already-reduced pair frame, not the facts.
      // The per-part order-count frame scales with the part DIMENSION
      // (≈2B rows at sf10k), so its joins carry NO broadcast hint —
      // size statistics (AQE) pick broadcast at small SF and
      // shuffle-hash at large, instead of a forced build-side OOM.
      val d = "decimal(38,0)"
      // r14: same basket-array derivation as basket_lift (one shuffle
      // builds the baskets; the pair fan-out is map-side and bounded
      // by basket size exactly as the old within-order self-join)
      val bk = orderBaskets(s, dir)
      val pc = bk.select(explode(col("items")).as("l_partkey"))
        .groupBy("l_partkey").agg(count(lit(1)).as("pc"))
      val co = basketPairs(bk)
        .groupBy("pa", "pb")
        .agg(count(lit(1)).as("co"))
      val sym = co.select(col("pa").as("item"), col("pb").as("neighbor"),
          col("co"))
        .unionAll(co.select(col("pb").as("item"), col("pa").as("neighbor"),
          col("co")))
      val scored = sym
        .join(pc.withColumnRenamed("l_partkey", "item")
          .withColumnRenamed("pc", "ci"), Seq("item"))
        .join(pc.withColumnRenamed("l_partkey", "neighbor")
          .withColumnRenamed("pc", "cn"), Seq("neighbor"))
        .select(col("item"), col("neighbor"), col("co"),
          expr(s"(cast(co AS $d) * co * 1000000)" +
            s" div (cast(ci AS $d) * cn)").as("cos2_ppm"))
      val w = Window.partitionBy("item")
        .orderBy(col("cos2_ppm").desc, col("co").desc,
          col("neighbor").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("item"), col("rank").cast("int").as("rank"),
          col("neighbor"), col("co"), col("cos2_ppm"))
    },
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pc AS (SELECT l_partkey, count(*) AS pc FROM li GROUP BY 1),
        |co AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS co
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |sym AS (
        |  SELECT pa AS item, pb AS neighbor, co FROM co
        |  UNION ALL
        |  SELECT pb AS item, pa AS neighbor, co FROM co),
        |sc AS (
        |  SELECT s.item, s.neighbor, s.co,
        |    ((s.co::HUGEINT * s.co * 1000000)
        |      // (ci.pc::HUGEINT * cn.pc))::BIGINT AS cos2_ppm
        |  FROM sym s
        |  JOIN pc ci ON ci.l_partkey = s.item
        |  JOIN pc cn ON cn.l_partkey = s.neighbor)
        |SELECT item,
        |  CAST(row_number() OVER (PARTITION BY item
        |    ORDER BY cos2_ppm DESC, co DESC, neighbor ASC) AS INTEGER)
        |    AS rank,
        |  neighbor, co, cos2_ppm
        |FROM sc
        |QUALIFY rank <= 3""".stripMargin),

    QueryDef("ml_isotonic_fit", (s, dir) => {
      // isotonic (PAVA) calibration of the keep-prob gate, via the
      // exact minimax identity g(p) = max_{i≤p} min_{j≥p} rate(i..j)
      // instead of the sequential pool-adjacent-violators loop: on the
      // DECILE frame (B = 10 bins) the full identity is three bounded
      // joins over O(B³) tiny rows — no driver iteration, no
      // recursion cap, exact integer ppm end-to-end (both engines
      // truncate the same interval rates, so the fit is
      // hash-identical). fitted_ppm is non-decreasing by construction
      // — the monotone repair of the reliability curve. The label is
      // the LONG-DOC indicator (n_chars ≥ 300): correlated with the
      // gate through its length feature but noisy, so the raw decile
      // rates are non-monotone and the pooling step genuinely fires
      // (the quality pseudo-label saturates at 1.0 on this fixture —
      // nothing to repair).
      val docs = t(s, dir, "documents")
      val quality = TextFunctions.qualityScore(col("text"))
      val lenNorm = least(
        TextFunctions.tokenCount(col("text")).cast("double") / lit(256.0),
        lit(1.0))
      val prob = Curation.linearKeepProb(-1.4, quality -> 2.2,
        lenNorm -> 1.1)
      val bins = docs.select(
          round(prob * 10000).cast("long").as("p4"),
          when(col("n_chars") >= 300, 1L).otherwise(0L).as("pos"))
        .select(least(col("p4") / 1000, lit(9L)).cast("long").as("bin"),
          col("pos"))
        .groupBy("bin").agg(count(lit(1)).as("n"), sum("pos").as("p"))
      Analytics.isotonicFitPpm(bins)
    },
      s"""WITH q AS ($QualityOracle),
         |n AS (
         |  SELECT doc_id,
         |    (CASE WHEN length(trim(text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(text), '\\s+'))
         |     END)::BIGINT AS n_tokens
         |  FROM documents),
         |z AS (
         |  SELECT q.doc_id, q.quality,
         |    -1.4 + q.quality * 2.2 +
         |      least(n.n_tokens / 256.0, 1.0) * 1.1 AS z
         |  FROM q JOIN n USING (doc_id)),
         |p AS (
         |  SELECT doc_id, quality,
         |    round(CAST(CAST((0.5 + 0.5 * z / (1.0 + abs(z)))
         |      AS VARCHAR) AS DECIMAL(38,20)), 4)::DOUBLE AS keep_prob
         |  FROM z),
         |sc AS (
         |  SELECT CAST(round(p.keep_prob * 10000) AS BIGINT) AS p4,
         |    CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END AS pos
         |  FROM p JOIN documents d USING (doc_id)),
         |bins AS (
         |  SELECT least(p4 // 1000, 9)::BIGINT AS bin,
         |    count(*)::BIGINT AS n, sum(pos)::BIGINT AS p
         |  FROM sc GROUP BY 1),
         |pairs AS (
         |  SELECT a.bin AS lo, b.bin AS hi
         |  FROM bins a JOIN bins b ON a.bin <= b.bin),
         |iv AS (
         |  SELECT pr.lo, pr.hi,
         |    (sum(m.p) * 1000000 // sum(m.n))::BIGINT AS rate_ppm
         |  FROM pairs pr JOIN bins m ON m.bin BETWEEN pr.lo AND pr.hi
         |  GROUP BY 1, 2),
         |f1 AS (
         |  SELECT b.bin, iv.lo, min(iv.rate_ppm) AS minj
         |  FROM bins b JOIN iv ON iv.lo <= b.bin AND b.bin <= iv.hi
         |  GROUP BY 1, 2),
         |fit AS (
         |  SELECT bin, max(minj)::BIGINT AS fitted_ppm
         |  FROM f1 GROUP BY 1)
         |SELECT bins.bin, bins.n AS n_docs,
         |  (bins.p * 1000000 // bins.n)::BIGINT AS raw_ppm,
         |  fit.fitted_ppm
         |FROM bins JOIN fit USING (bin)""".stripMargin),

    QueryDef("ml_auc_exact", (s, dir) => {
      // EXACT tie-aware ROC AUC of "pre-period activity predicts a FINAL-WEEK
      // purchase" (day >= 28 — the label must not be saturated: every fixture
      // user purchases over the full month, but only ~60%% do in the last
      // days), by the rank formula AUC = (Σ_pos rank − P(P+1)/2) / (P·N) with
      // average ranks over ties — entirely in integer arithmetic (average ranks
      // are .5-rationals, so everything is carried ×2: rank2 = 2·cum_lower +
      // ties + 1; auc_ppm = (Σ_pos rank2 − P(P+1))·10⁶ div (2·P·N)). No float
      // threshold sweep, no trapezoid — the Mann–Whitney identity makes the
      // answer exact and oracle-checkable. The ranking window runs on the
      // SCORE-DOMAIN frame (distinct activity counts), not per-user rows — the
      // domain-bounded-window discipline of profile_ks_test.
      val ev = t(s, dir, "events").select(col("user_id"),
        datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).as("day"),
        col("event_type"))
      val users = ev.groupBy("user_id").agg(
        sum(when(col("day") < 15, 1L).otherwise(0L)).as("score"),
        max(when(col("day") >= 28 &&
          col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      val byScore = users.groupBy("score").agg(
          count(lit(1)).as("c"), sum("y").as("cp"))
        .localCheckpoint(true) // cumulative window + totals read it
      val w = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = byScore
        .withColumn("cum", sum("c").over(w))
        .withColumn("rank2sum_pos",
          col("cp") * (lit(2) * (col("cum") - col("c"))
            + col("c") + 1))
      ranked.agg(sum("cp").as("n_pos"),
          (sum("c") - sum("cp")).as("n_neg"),
          sum("rank2sum_pos").as("r2p"))
        .select(col("n_pos"), col("n_neg"),
          // r2p <= 2U² (U users) — the ×1e6 product clears into
          // DECIMAL(38,0) (overflow-sweep r12: longs cap U at ~2e6;
          // decimals carry U to ~1e16)
          expr("cast((cast(r2p as decimal(38,0)) - cast(n_pos as" +
            " decimal(38,0)) * (n_pos + 1)) * 1000000" +
            " div (2 * cast(n_pos as decimal(38,0)) * n_neg)" +
            " as bigint)").as("auc_ppm"))
    },
      """WITH ev AS (
        |  SELECT user_id,
        |    datediff('day', DATE '2024-01-01', ts::DATE) AS day,
        |    event_type
        |  FROM events),
        |u AS (
        |  SELECT user_id,
        |    sum(CASE WHEN day < 15 THEN 1 ELSE 0 END)::BIGINT AS score,
        |    max(CASE WHEN day >= 28 AND event_type = 'purchase'
        |      THEN 1 ELSE 0 END)::BIGINT AS y
        |  FROM ev GROUP BY 1),
        |bs AS (
        |  SELECT score, count(*)::BIGINT AS c, sum(y)::BIGINT AS cp
        |  FROM u GROUP BY 1),
        |r AS (
        |  SELECT score, c, cp,
        |    sum(c) OVER (ORDER BY score
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
        |  FROM bs),
        |m AS (
        |  SELECT sum(cp)::BIGINT AS n_pos,
        |    (sum(c) - sum(cp))::BIGINT AS n_neg,
        |    sum(cp * (2 * (cum - c) + c + 1))::BIGINT AS r2p
        |  FROM r)
        |SELECT n_pos, n_neg,
        |  ((r2p::HUGEINT - n_pos::HUGEINT * (n_pos + 1)) * 1000000
        |    // (2 * n_pos::HUGEINT * n_neg))::BIGINT AS auc_ppm
        |FROM m""".stripMargin),

    QueryDef("ml_ridge_normal", (s, dir) => {
      // multi-feature OLS fitted CLOSED-FORM inside the engine: price
      // (cents) on quantity and discount (bp) per return flag, via the
      // centered normal equations solved by Cramer's rule — ONE
      // map-side-combined pass builds the 10 sufficient statistics as
      // exact decimal(38,0) integers; the 2×2 solve is a handful of
      // exact cross-products (≤10³⁶ here, inside 38 digits through
      // ~sf0.3 — beyond that, center features first, the standard
      // fix); only the final coefficient divisions are IEEE doubles,
      // as single expression chains the oracle reproduces exactly.
      // The gradient-free twin of ml_logreg_train: zero driver
      // iterations, one job.
      val d = "decimal(38,0)"
      val m = tsp(s, dir, "lineitem", "l_orderkey")
        .select(col("l_returnflag"),
        col("l_quantity").cast("long").cast(d).as("x1"),
        floor(col("l_discount") * 10000).cast("long").cast(d).as("x2"),
        floor(col("l_extendedprice") * 100).cast("long").cast(d).as("y"))
      m.groupBy("l_returnflag").agg(
          count(lit(1)).cast(d).as("n"),
          sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
          sum(col("x1") * col("x1")).as("s11"),
          sum(col("x2") * col("x2")).as("s22"),
          sum(col("x1") * col("x2")).as("s12"),
          sum(col("x1") * col("y")).as("s1y"),
          sum(col("x2") * col("y")).as("s2y"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("sxx1", expr("n*s11 - s1*s1"))
        .withColumn("sxx2", expr("n*s22 - s2*s2"))
        .withColumn("sx12", expr("n*s12 - s1*s2"))
        .withColumn("sx1y", expr("n*s1y - s1*sy"))
        .withColumn("sx2y", expr("n*s2y - s2*sy"))
        .withColumn("syyc", expr("n*syy - sy*sy"))
        .withColumn("det", expr("sxx1*sxx2 - sx12*sx12"))
        .withColumn("b1num", expr("sx1y*sxx2 - sx2y*sx12"))
        .withColumn("b2num", expr("sx2y*sxx1 - sx1y*sx12"))
        .withColumn("b1", col("b1num").cast("double")
          / col("det").cast("double"))
        .withColumn("b2", col("b2num").cast("double")
          / col("det").cast("double"))
        .select(col("l_returnflag"), col("n").cast("long").as("n"),
          round(col("b1"), 6).as("b1"), round(col("b2"), 6).as("b2"),
          round((col("sy").cast("double") - col("b1")
              * col("s1").cast("double") - col("b2")
              * col("s2").cast("double")) / col("n").cast("double"), 2)
            .as("b0"),
          round((col("b1") * col("sx1y").cast("double") + col("b2")
              * col("sx2y").cast("double"))
            / col("syyc").cast("double"), 6).as("r2"))
    },
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(l_quantity AS BIGINT)::HUGEINT AS x1,
        |    CAST(floor(l_discount * 10000) AS BIGINT)::HUGEINT AS x2,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT)::HUGEINT AS y
        |  FROM lineitem),
        |st AS (SELECT l_returnflag, count(*)::HUGEINT AS n,
        |    sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
        |    sum(x1*x1) AS s11, sum(x2*x2) AS s22, sum(x1*x2) AS s12,
        |    sum(x1*y) AS s1y, sum(x2*y) AS s2y, sum(y*y) AS syy
        |  FROM m GROUP BY 1),
        |c AS (SELECT l_returnflag, n, s1, s2, sy,
        |    n*s11 - s1*s1 AS sxx1, n*s22 - s2*s2 AS sxx2,
        |    n*s12 - s1*s2 AS sx12, n*s1y - s1*sy AS sx1y,
        |    n*s2y - s2*sy AS sx2y, n*syy - sy*sy AS syyc
        |  FROM st),
        |d AS (SELECT *, sxx1*sxx2 - sx12*sx12 AS det,
        |    sx1y*sxx2 - sx2y*sx12 AS b1num,
        |    sx2y*sxx1 - sx1y*sx12 AS b2num FROM c),
        |e AS (SELECT *, b1num::DOUBLE / det::DOUBLE AS b1,
        |    b2num::DOUBLE / det::DOUBLE AS b2 FROM d)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  round(CAST(CAST((b1) AS VARCHAR) AS DECIMAL(38,20)), 6)::DOUBLE
        |    AS b1,
        |  round(CAST(CAST((b2) AS VARCHAR) AS DECIMAL(38,20)), 6)::DOUBLE
        |    AS b2,
        |  round(CAST(CAST(((sy::DOUBLE - b1 * s1::DOUBLE
        |    - b2 * s2::DOUBLE) / n::DOUBLE) AS VARCHAR)
        |    AS DECIMAL(38,20)), 2)::DOUBLE AS b0,
        |  round(CAST(CAST(((b1 * sx1y::DOUBLE + b2 * sx2y::DOUBLE)
        |    / syyc::DOUBLE) AS VARCHAR) AS DECIMAL(38,20)), 6)::DOUBLE
        |    AS r2
        |FROM e""".stripMargin),

    locally {
      val (folds, iters) = (3, 3)
      QueryDef("ml_logreg_cv", (s, dir) => {
        // k-fold cross-validation of the in-engine logistic regression:
        // 3 folds by doc_id % 3; per fold, 3 full-batch GD rounds train
        // on the OTHER folds (same exact e6-integer gradient reduction
        // as ml_logreg_train — deterministic under any partitioning),
        // then accuracy/log-loss score on the HELD-OUT fold. Per-fold
        // state is 4 doubles on the driver; each round is one map-side-
        // combined aggregate over the checkpointed feature frame, so the
        // whole model-selection harness costs 12 aggregates — no per-row
        // driver work, no data copies per fold.
        val toks = Dedup.tokens(col("text"))
        val feat = t(s, dir, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(pmod(col("doc_id"), lit(folds)).cast("int").as("fold"),
            (length(col("text")).cast("double") / 1000.0).as("x1"),
            (size(toks).cast("double") / 100.0).as("x2"),
            (size(array_distinct(toks)).cast("double") /
              greatest(size(toks), lit(1)).cast("double")).as("x3"),
            (col("lang") === "en").cast("int").cast("double").as("y"))
          .localCheckpoint(true) // 3 folds × (3 GD rounds + eval)
        val lr = 0.1
        val results = (0 until folds).map { f =>
          val tr = feat.filter(col("fold") =!= f)
          val n = tr.count()
          var w = Array(0.0, 0.0, 0.0, 0.0)
          for (_ <- 1 to iters) {
            val z = lit(w(0)) + lit(w(1)) * col("x1") +
              lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
            val p = lit(1.0) / (lit(1.0) + exp(-z))
            def g(x: Column) = sum(
              round((p - col("y")) * x * 1000000.0, 0).cast("long"))
            val r = tr.agg(g(lit(1.0)).as("gb"), g(col("x1")).as("g1"),
              g(col("x2")).as("g2"), g(col("x3")).as("g3")).head()
            w = Array.tabulate(4)(j =>
              w(j) - lr * ((r.getLong(j).toDouble / 1000000.0) / n))
          }
          val te = feat.filter(col("fold") === f)
          val zf = lit(w(0)) + lit(w(1)) * col("x1") +
            lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
          val pf = lit(1.0) / (lit(1.0) + exp(-zf))
          te.agg(count(lit(1)).as("n_test"),
              sum(((pf >= 0.5).cast("int") === col("y").cast("int"))
                .cast("long")).as("correct"),
              sum(round(-(col("y") * log(pf) +
                (lit(1.0) - col("y")) * log(lit(1.0) - pf)) * 1000000.0, 0)
                .cast("long")).as("loss_e6"))
            .select(lit(f).as("fold"), lit(n).as("n_train"),
              round(lit(w(0)) * 1000000.0, 0).cast("long").as("b_e6"),
              round(lit(w(1)) * 1000000.0, 0).cast("long").as("w1_e6"),
              round(lit(w(2)) * 1000000.0, 0).cast("long").as("w2_e6"),
              round(lit(w(3)) * 1000000.0, 0).cast("long").as("w3_e6"),
              col("n_test"), col("correct"), col("loss_e6"))
        }
        results.reduce(_ unionByName _)
      }, {
        // Oracle for `ml_logreg_cv`: the `ml_logreg_train` oracle unrolled per
        // fold — train CTEs filtered to fold <> f, the eval pass to fold = f,
        // 3-row UNION ALL result. Mirrors the `ml_logreg_cv` builder loop
        // exactly.
        def z(w: String) =
          s"($w.b + $w.w1*f.x1 + $w.w2*f.x2 + $w.w3*f.x3)"
        def p(w: String) = s"(1.0/(1.0 + exp(-${z(w)})))"
        def g(w: String, x: String) =
          s"sum(round(((${p(w)} - f.y) * $x) * 1000000.0)::BIGINT)::BIGINT"
        val sb = new StringBuilder
        sb ++=
          s"""WITH feat AS (
             |  SELECT (doc_id % $folds)::INT AS fold,
             |    (length(text)::DOUBLE / 1000.0) AS x1,
             |    (len(a)::DOUBLE / 100.0) AS x2,
             |    (len(list_distinct(a))::DOUBLE
             |      / greatest(len(a), 1)::DOUBLE) AS x3,
             |    (lang = 'en')::INT::DOUBLE AS y
             |  FROM (SELECT doc_id, lang, text,
             |      regexp_split_to_array(lower(trim(text)), '\\s+') AS a
             |    FROM documents WHERE length(trim(text)) > 0))""".stripMargin
        for (fo <- 0 until folds) {
          sb ++=
            s""",
               |tr$fo AS (SELECT * FROM feat WHERE fold <> $fo),
               |c$fo AS (SELECT count(*)::BIGINT AS n FROM tr$fo),
               |w${fo}_0 AS (SELECT 0.0::DOUBLE AS b, 0.0::DOUBLE AS w1,
               |  0.0::DOUBLE AS w2, 0.0::DOUBLE AS w3)""".stripMargin
          for (i <- 1 to iters) {
            val pw = s"w${fo}_${i - 1}"
            sb ++=
              s""",
                 |g${fo}_$i AS (SELECT ${g("w", "1.0")} AS gb,
                 |  ${g("w", "f.x1")} AS g1,
                 |  ${g("w", "f.x2")} AS g2,
                 |  ${g("w", "f.x3")} AS g3
                 |  FROM tr$fo f CROSS JOIN $pw w),
                 |w${fo}_$i AS (SELECT
                 |  w.b - 0.1::DOUBLE * ((g.gb::DOUBLE / 1000000.0) / c.n) AS b,
                 |  w.w1 - 0.1::DOUBLE * ((g.g1::DOUBLE / 1000000.0) / c.n) AS w1,
                 |  w.w2 - 0.1::DOUBLE * ((g.g2::DOUBLE / 1000000.0) / c.n) AS w2,
                 |  w.w3 - 0.1::DOUBLE * ((g.g3::DOUBLE / 1000000.0) / c.n) AS w3
                 |  FROM $pw w, g${fo}_$i g, c$fo c)""".stripMargin
          }
          sb ++=
            s""",
               |fin$fo AS (SELECT f.y, ${p("w")} AS p
               |  FROM feat f CROSS JOIN w${fo}_$iters w WHERE f.fold = $fo),
               |m$fo AS (SELECT count(*)::BIGINT AS n_test,
               |  sum(((p >= 0.5)::INT = y::INT)::BIGINT)::BIGINT AS correct,
               |  sum(round((-(y * ln(p) + (1.0 - y) * ln(1.0 - p)))
               |    * 1000000.0)::BIGINT)::BIGINT AS loss_e6
               |  FROM fin$fo),
               |r$fo AS (SELECT $fo::INT AS fold, c.n AS n_train,
               |  round(w.b * 1000000.0)::BIGINT AS b_e6,
               |  round(w.w1 * 1000000.0)::BIGINT AS w1_e6,
               |  round(w.w2 * 1000000.0)::BIGINT AS w2_e6,
               |  round(w.w3 * 1000000.0)::BIGINT AS w3_e6,
               |  m.n_test, m.correct, m.loss_e6
               |  FROM w${fo}_$iters w CROSS JOIN m$fo m CROSS JOIN c$fo c)"""
              .stripMargin
        }
        sb ++= "\n" + (0 until folds)
          .map(fo => s"SELECT * FROM r$fo").mkString("\nUNION ALL\n")
        sb.toString
      })
    },

    QueryDef("ml_conformal_interval", (s, dir) => {
      // split-conformal prediction intervals (Vovk et al.; the
      // distribution-free uncertainty wrapper modern eval stacks put
      // around ANY point model): deterministic orderkey%4 split into
      // train/calibration/test, an exact integer ratio model
      // (slope = Σy div Σqty per flag) on train, then the conformal
      // radius = the ceil(0.9·(n+1))-th smallest |residual| on
      // calibration — a RANK, not a moment, so the whole pipeline is
      // integer-exact and the ≥90% marginal-coverage guarantee is
      // checked empirically on the held-out test split.
      //
      // Scale path (round 8, closing the r7 docstring promise): the
      // exact rank comes from a QUANTILE-SKETCH pass with EXACT-RANK
      // REFINEMENT, not a full per-group sort. Pass 1 rolls up n_cal,
      // the target rank k, and an approx_percentile value bracket
      // [v_lo, v_hi] at 0.9∓0.02 (accuracy 10000 ⇒ rank error
      // ≤ n/10000, far inside the ±0.02·n margin for any n ≥ ~100;
      // below that the sketch stores every value and is exact, and
      // the 2%·n margin still spans ≥1 rank step on the fixtures).
      // Pass 2 counts residuals strictly below v_lo. Pass 3 sorts
      // ONLY the band [v_lo, v_hi] — ~4% of calibration, and the
      // fraction shrinks with a tighter margin/accuracy as n grows —
      // and picks band-position k − cnt_lt_lo, which IS the global
      // k-th smallest. Three column-pruned scans replace one full
      // shuffle sort; identical output (the DuckDB oracle still
      // computes the rank by full sort, so equality is hash-proven
      // at every fixture). If a sketch bracket ever failed to cover
      // rank k the flag's row would vanish — loud under the gate's
      // vacuity/row-count checks, never a silent wrong value.
      val base = t(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"), col("l_orderkey"),
        col("l_quantity").cast("long").as("qty"),
        floor(col("l_extendedprice") * 100).cast("long").as("y"))
      val slope = base
        .filter(pmod(col("l_orderkey"), lit(4)).isin(0, 3))
        .groupBy("flag")
        .agg(expr("sum(y) div sum(qty)").as("slope"))
        .localCheckpoint(false) // 3 rows; calibration AND test read it
      // r15: the residual frame is derived once and lazily
      // checkpointed — passes 1-3 read the materialized narrow rows
      // instead of re-scanning lineitem and re-joining the slope
      val cal = base.filter(pmod(col("l_orderkey"), lit(4)) === 1)
        .join(slope, "flag")
        .select(col("flag"),
          abs(col("y") - col("qty") * col("slope")).as("r"))
        .localCheckpoint(false)
      // pass 1: per-group size, target rank, and sketch bracket
      val calStats = cal.groupBy("flag").agg(
          count(lit(1)).as("n_cal"),
          // r15: accuracy 10000 -> 1000 (rank error <= 0.1%*n, 20x
          // inside the +/-2%*n margin; a bracket miss vanishes the
          // row -- loud) for an order-of-magnitude smaller summary
          expr("approx_percentile(r, array(0.88, 0.92), 1000)")
            .as("br"))
        .select(col("flag"), col("n_cal"),
          expr("(9 * (n_cal + 1) + 9) div 10").as("k"),
          col("br").getItem(0).as("v_lo"),
          col("br").getItem(1).as("v_hi"))
        .localCheckpoint(false) // 3 rows; passes 2 and 3 both read it
      // passes 2+3 FUSED (r15, same as theil_sen): one aggregate
      // computes the exact below-band count AND the sorted band per
      // flag — one calibration pass fewer, no rank window. Position
      // k − cnt_lt_lo in the ascending band IS the old row_number
      // pick (ties are equal values); the coverage filter preserves
      // the loud-miss contract.
      val qv = cal.join(broadcast(calStats), "flag")
        .groupBy("flag", "n_cal", "k")
        .agg(sum(when(col("r") < col("v_lo"), 1L).otherwise(0L))
            .as("cnt_lt_lo"),
          sort_array(collect_list(when(col("r") >= col("v_lo") &&
            col("r") <= col("v_hi"), col("r")))).as("band"))
        .withColumn("pos", (col("k") - col("cnt_lt_lo")).cast("int"))
        .filter(col("pos") >= 1 && col("pos") <= size(col("band")))
        .select(col("flag"), col("n_cal"),
          element_at(col("band"), col("pos")).as("q_cents"))
        .localCheckpoint(false) // 3 rows
      base.filter(pmod(col("l_orderkey"), lit(4)) === 2)
        .join(slope, "flag").join(qv, "flag")
        .select(col("flag"), col("slope"), col("n_cal"), col("q_cents"),
          (abs(col("y") - col("qty") * col("slope")) <= col("q_cents"))
            .cast("long").as("c"))
        .groupBy("flag", "slope", "n_cal", "q_cents")
        .agg(count(lit(1)).as("n_test"), sum("c").as("n_covered"))
        .select(col("flag").as("l_returnflag"), col("slope"),
          col("n_cal"), col("q_cents"), col("n_test"),
          expr("n_covered * 1000000 div n_test").as("coverage_ppm"))
    },
      // conformal radius is a RANK (k-th smallest calibration residual),
      // so every value is integer-exact; // and Spark's div both
      // truncate toward zero on the non-negative sums here
      """WITH base AS (
        |  SELECT l_returnflag AS flag, l_orderkey,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |slope AS (
        |  SELECT flag, (sum(y) // sum(qty))::BIGINT AS slope
        |  FROM base WHERE l_orderkey % 4 IN (0, 3) GROUP BY flag),
        |cal AS (
        |  SELECT b.flag, abs(b.y - b.qty * s.slope)::BIGINT AS r
        |  FROM base b JOIN slope s USING (flag)
        |  WHERE b.l_orderkey % 4 = 1),
        |caln AS (
        |  SELECT flag, count(*)::BIGINT AS n_cal,
        |    ((9 * (count(*) + 1) + 9) // 10)::BIGINT AS k
        |  FROM cal GROUP BY flag),
        |ranked AS (
        |  SELECT flag, r,
        |    row_number() OVER (PARTITION BY flag ORDER BY r) AS rn
        |  FROM cal),
        |qv AS (
        |  SELECT ranked.flag, caln.n_cal, ranked.r AS q_cents
        |  FROM ranked JOIN caln
        |    ON ranked.flag = caln.flag AND ranked.rn = caln.k),
        |test AS (
        |  SELECT b.flag, s.slope, qv.n_cal, qv.q_cents,
        |    (CASE WHEN abs(b.y - b.qty * s.slope) <= qv.q_cents
        |      THEN 1 ELSE 0 END) AS c
        |  FROM base b JOIN slope s USING (flag) JOIN qv USING (flag)
        |  WHERE b.l_orderkey % 4 = 2)
        |SELECT flag AS l_returnflag, slope, n_cal, q_cents,
        |  count(*)::BIGINT AS n_test,
        |  (sum(c) * 1000000 // count(*))::BIGINT AS coverage_ppm
        |FROM test GROUP BY 1, 2, 3, 4""".stripMargin),

    locally {
      val sched = Seq(1L, 1L, 1L, 2L, 4L, 8L)
      QueryDef("ml_quantile_regression", (s, dir) => {
        // τ = 0.9 QUANTILE regression (Koenker–Bassett pinball loss) of
        // line revenue on quantity, per return flag — the P90 cost
        // model ops teams fit when the MEAN model (analytics_linreg /
        // ml_ridge_normal) underprices tail orders. The pinball
        // subgradient for y ≈ w·x is SIGN-based — ∂L/∂w · q =
        // q·Σ_{y<w·x} x − p·Σx for τ = p/q — so unlike logistic GD the
        // whole descent is exact longs: no sigmoid, no float gradient.
        // 6 unrolled rounds with a relative step schedule (three full
        // steps of w0/div then halving: div = 1,1,1,2,4,8, where w0 is
        // the exact mean ratio Σy·10⁶ div Σx); products clear
        // denominators in DECIMAL(38,0), updates divide once with
        // truncation toward zero (Spark div = DuckDB //). The emitted
        // xcover_ppm (x-weighted mass at or under the line) is the
        // quantity the pinball optimum actually pins to τ — measured
        // 0.849 after 6 rounds from the 0.5-ish mean start, converging
        // monotonically; count-coverage (cover_ppm) is also emitted and
        // legitimately differs (the regressor weights residual mass by
        // x). Scale shape is ml_logreg_train's: per-round state is a
        // 3-row broadcast frame, each round ONE map-side-combined
        // aggregate over the checkpointed (flag, x, y) scan.
        val d = "decimal(38,0)"
        // (no scan spread: A/B runs=7 measured the spread checkpoint
        // WORSE here — each GD round then schedules 32 near-empty tasks
        // instead of one; the rounds' serial agg was never the cost)
        val base = t(s, dir, "lineitem")
          .filter(col("l_quantity") >= 1)
          .select(col("l_returnflag").as("flag"),
            col("l_quantity").cast("long").as("x"),
            floor(col("l_extendedprice") * 100).cast("long").as("y"))
          .localCheckpoint(false) // 3 GD rounds + final eval re-read it
          // (lazy, r15: round 1's aggregate materializes it in-action)
        var w = base.groupBy("flag")
          .agg(sum("x").as("sx"), sum("y").as("sy"),
            count(lit(1)).as("n"))
          .select(col("flag"), col("sx"), col("n"),
            expr(s"cast(cast(sy as $d) * 1000000 div cast(sx as $d)" +
              s" as long)").as("w0_e6"))
          .withColumn("w_e6", col("w0_e6"))
          .localCheckpoint(false)
        for (div <- sched) {
          val g = base.join(broadcast(w), "flag").groupBy("flag").agg(
            max("sx").as("sx"), max("n").as("n"),
            max("w0_e6").as("w0_e6"), max("w_e6").as("w_prev"),
            (lit(10L).cast(d) * sum(when(
                col("y") * lit(1000000L) < col("w_e6") * col("x"),
                col("x")).otherwise(0L)).cast(d)
              - lit(9L).cast(d) * max(col("sx")).cast(d)).as("gq"))
          w = g.select(col("flag"), col("sx"), col("n"), col("w0_e6"),
              (col("w_prev") - expr(s"cast(gq * cast(w0_e6 as $d)" +
                s" div (cast(10 as $d) * cast(sx as $d) * $div)" +
                s" as long)")).as("w_e6"))
            .localCheckpoint(false) // 3 rows per round
        }
        base.join(broadcast(w), "flag").groupBy("flag").agg(
            max("w_e6").as("w_e6"), max("n").as("n"), max("sx").as("sxv"),
            sum(when(col("y") * lit(1000000L) <= col("w_e6") * col("x"),
              1L).otherwise(0L)).as("n_cov"),
            sum(when(col("y") * lit(1000000L) <= col("w_e6") * col("x"),
              col("x")).otherwise(0L)).as("x_cov"))
          .select(col("flag"), col("w_e6"), col("n"),
            expr("n_cov * 1000000 div n").as("cover_ppm"),
            expr(s"cast(cast(x_cov as $d) * 1000000" +
              s" div cast(sxv as $d) as long)").as("xcover_ppm"))
      }, {
        // Oracle for `ml_quantile_regression`: the τ = 0.9 pinball
        // subgradient descent unrolled round by round (one MATERIALIZED
        // g/w CTE pair per step — the sequential-chain class MUST be
        // materialized or DuckDB re-inlines the whole prefix 2^rounds
        // times). Same integer update as the engine:
        // w ← w − (gq·w0) // (10·sx·div), gq = 10·Σ_{y<wx} x − 9·Σx.
        val rounds = sched.zipWithIndex.map { case (div, i) =>
          val prev = if (i == 0) "w0" else s"w$i"
          s"""g${i + 1} AS MATERIALIZED (
             |  SELECT b.flag, max(w.sx) AS sx, max(w.n) AS n,
             |    max(w.w0e6) AS w0e6, max(w.w) AS wp,
             |    10 * sum(CASE WHEN b.y * 1000000 < w.w * b.x
             |        THEN b.x ELSE 0 END)::HUGEINT
             |      - 9 * max(w.sx) AS gq
             |  FROM base b JOIN $prev w ON w.flag = b.flag GROUP BY 1),
             |w${i + 1} AS MATERIALIZED (
             |  SELECT flag, sx, n, w0e6,
             |    wp - (gq * w0e6) // (10 * sx * $div) AS w
             |  FROM g${i + 1})""".stripMargin
        }.mkString(",\n")
        val wN = s"w${sched.size}"
        s"""WITH base AS MATERIALIZED (
           |  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS x,
           |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
           |  FROM lineitem WHERE l_quantity >= 1),
           |s0 AS MATERIALIZED (
           |  SELECT flag, sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
           |    count(*)::BIGINT AS n FROM base GROUP BY 1),
           |w0 AS MATERIALIZED (
           |  SELECT flag, sx, n, (sy * 1000000) // sx AS w0e6,
           |    (sy * 1000000) // sx AS w FROM s0),
           |$rounds
           |SELECT b.flag, max(w.w)::BIGINT AS w_e6, max(w.n)::BIGINT AS n,
           |  ((sum(CASE WHEN b.y * 1000000 <= w.w * b.x THEN 1 ELSE 0
           |      END)::HUGEINT * 1000000) // max(w.n))::BIGINT
           |    AS cover_ppm,
           |  ((sum(CASE WHEN b.y * 1000000 <= w.w * b.x THEN b.x ELSE 0
           |      END)::HUGEINT * 1000000) // max(w.sx))::BIGINT
           |    AS xcover_ppm
           |FROM base b JOIN $wN w ON w.flag = b.flag GROUP BY 1""".stripMargin
      })
    },

    QueryDef("ml_target_encode_oof", (s, dir) => {
      // leakage-free OUT-OF-FOLD target encoding — the feature-prep
      // op every tabular training pipeline needs and every naive one
      // gets wrong (encoding a row's category with statistics that
      // include the row's own label leaks the target). Folds are
      // deterministic (l_orderkey mod 5); the fold-f encoding of
      // brand b uses only rows OUTSIDE f, smoothed toward the global
      // out-of-fold prior with m = 100. All arithmetic clears
      // denominators into DECIMAL(38,0) — enc = ((S−s_f)·Ng +
      // 100·Sg) · 1e6 // ((N−n_f+100)·Ng) — so the result is exact,
      // no float means anywhere. Scale: two map-side-combined rollups
      // (brand, brand×fold) over one joined scan; the encode table is
      // brands×folds-sized — broadcastable back onto 100 TB of rows.
      val d = "decimal(38,0)"
      val li = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          pmod(col("l_orderkey"), lit(5)).cast("long").as("fold"),
          (col("l_returnflag") === "R").cast("long").as("label"))
      val byBrand = li.groupBy("brand")
        .agg(sum("label").as("sb"), count(lit(1)).as("nb"))
      val byFold = li.groupBy("brand", "fold")
        .agg(sum("label").as("sf"), count(lit(1)).as("nf"))
      val glob = li.agg(sum("label").as("sg"), count(lit(1)).as("ng"))
      byFold.join(byBrand, Seq("brand"))
        .crossJoin(broadcast(glob))
        .withColumn("num",
          ((col("sb") - col("sf")).cast(d) * col("ng").cast(d) +
            lit(100).cast(d) * col("sg").cast(d)) * lit(1000000).cast(d))
        .withColumn("den",
          (col("nb") - col("nf") + lit(100)).cast(d) * col("ng").cast(d))
        // `div` truncates the exact rational — decimal `/` + cast
        // would round at the division's result scale first
        .select(col("brand"), col("fold"),
          (col("nb") - col("nf")).as("n_oof"),
          expr("num div den").as("enc_e6"))
    },
      """WITH li AS MATERIALIZED (
        |  SELECT p.p_brand AS brand, (l.l_orderkey % 5)::BIGINT AS fold,
        |    (l.l_returnflag = 'R')::BIGINT AS label
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |bb AS (
        |  SELECT brand, sum(label)::BIGINT AS sb, count(*)::BIGINT
        |    AS nb
        |  FROM li GROUP BY 1),
        |bf AS (
        |  SELECT brand, fold, sum(label)::BIGINT AS sf,
        |    count(*)::BIGINT AS nf
        |  FROM li GROUP BY 1, 2),
        |g AS (SELECT sum(label)::BIGINT AS sg, count(*)::BIGINT AS ng
        |  FROM li)
        |SELECT f.brand, f.fold, (b.nb - f.nf)::BIGINT AS n_oof,
        |  ((((b.sb - f.sf) * g.ng + 100 * g.sg) * 1000000)
        |    // ((b.nb - f.nf + 100) * g.ng))::BIGINT AS enc_e6
        |FROM bf f JOIN bb b USING (brand) CROSS JOIN g""".stripMargin),

    QueryDef("ml_woe_iv", (s, dir) => {
      // weight-of-evidence binning + information value — the classic
      // credit-scoring feature diagnostic: per quantity bin,
      // WoE = ln((good_b/G)/(bad_b/B)); IV = Σ(good_b/G − bad_b/B)·WoE
      // ranks the feature's separating power. Counts are exact longs;
      // each bin touches doubles exactly once (one ln, one product),
      // rounds to e6, and the IV total is a sum of LONGs over the
      // 5-bin frame — no cross-partition float accumulation. Scale:
      // one map-side-combined rollup to a bin-count-sized frame;
      // everything after is constant-size.
      val binned = t(s, dir, "lineitem")
        .select(least(expr("cast(l_quantity as long) div 10"), lit(4))
          .as("bin"),
          (col("l_returnflag") === "R").cast("long").as("bad"))
      val byBin = binned.groupBy("bin")
        .agg(sum(lit(1L) - col("bad")).as("good_b"),
          sum(col("bad")).as("bad_b"))
      val tot = byBin.agg(sum("good_b").as("g"), sum("bad_b").as("b"))
      val woe = byBin.crossJoin(broadcast(tot))
        .withColumn("woe_e6",
          round(log((col("good_b") * col("b")).cast("double") /
            (col("bad_b") * col("g")).cast("double")) * 1000000.0, 0)
            .cast("long"))
        .withColumn("iv_part_e6",
          round(((col("good_b") * col("b") - col("bad_b") * col("g"))
            .cast("double") / (col("g") * col("b")).cast("double")) *
            (log((col("good_b") * col("b")).cast("double") /
              (col("bad_b") * col("g")).cast("double"))) * 1000000.0, 0)
            .cast("long"))
      woe.crossJoin(broadcast(
          woe.agg(sum("iv_part_e6").as("iv_e6_total"))))
        .select(col("bin"), col("good_b"), col("bad_b"), col("woe_e6"),
          col("iv_part_e6"), col("iv_e6_total"))
    },
      """WITH binned AS (
        |  SELECT least(CAST(l_quantity AS BIGINT) // 10, 4) AS bin,
        |    (l_returnflag = 'R')::BIGINT AS bad
        |  FROM lineitem),
        |bb AS MATERIALIZED (
        |  SELECT bin, sum(1 - bad)::BIGINT AS good_b,
        |    sum(bad)::BIGINT AS bad_b
        |  FROM binned GROUP BY 1),
        |t AS (SELECT sum(good_b)::BIGINT AS g, sum(bad_b)::BIGINT AS b
        |  FROM bb),
        |w AS MATERIALIZED (
        |  SELECT bin, good_b, bad_b,
        |    round(ln((good_b * t.b)::DOUBLE / (bad_b * t.g)::DOUBLE)
        |      * 1000000.0)::BIGINT AS woe_e6,
        |    round(((good_b * t.b - bad_b * t.g)::DOUBLE
        |        / (t.g * t.b)::DOUBLE)
        |      * ln((good_b * t.b)::DOUBLE / (bad_b * t.g)::DOUBLE)
        |      * 1000000.0)::BIGINT AS iv_part_e6
        |  FROM bb CROSS JOIN t),
        |iv AS (SELECT sum(iv_part_e6)::BIGINT AS iv_e6_total FROM w)
        |SELECT bin, good_b, bad_b, woe_e6, iv_part_e6, iv_e6_total
        |FROM w CROSS JOIN iv""".stripMargin),

    QueryDef("ml_gbdt_stumps", (s, dir) => {
      // gradient-boosted regression STUMPS trained inside the engine —
      // the boosting model class (sequential bias correction) that the
      // single-shot OLS/ridge/logreg family can't express. 3 rounds;
      // each round scans ONE 50-bin rollup of the residuals (feature =
      // integer quantity), scores 9 candidate thresholds by the exact
      // SSE-reduction surrogate S_L²/n_L + S_R²/n_R — numerator and
      // denominator built in decimal(38,0) and divided as ONE double
      // (identical IEEE op both engines; argmax tie-breaks by
      // threshold), and leaf values are integral-division residual
      // means in e2 fixed point, so residuals stay exact longs through
      // every round. Driver state is 3 numbers per round (the k-means/
      // logreg discipline); everything data-sized is map-side combined.
      // Labels are truncated integer dollars to keep the decimal gain
      // products inside 38 digits at any fixture scale.
      val d = "decimal(38,0)"
      val feat = t(s, dir, "lineitem")
        .select(col("l_quantity").cast("long").as("x"),
          (floor(col("l_extendedprice")) * 100).as("y_e2"))
        .localCheckpoint(true) // re-read once per boosting round
      val f0 = feat.agg(expr("sum(y_e2) div count(1)").as("f0"))
        .head().getLong(0)
      val cands = (5 to 45 by 5)
      var rCol: Column = col("y_e2") - lit(f0)
      val rounds = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Long, Long)]
      for (k <- 1 to 3) {
        val bins = feat.withColumn("r", rCol)
          .groupBy("x").agg(sum("r").as("s"), count(lit(1)).as("c"))
        val tot = bins.agg(sum("s").as("st"), sum("c").as("ct"))
        val cand = bins.crossJoin(broadcast(tot))
          .withColumn("t", explode(array(cands.map(lit(_)): _*)))
          .groupBy("t")
          .agg(
            sum(when(col("x") <= col("t"), col("s")).otherwise(0L))
              .as("sl"),
            sum(when(col("x") <= col("t"), col("c")).otherwise(0L))
              .as("nl"),
            first("st").as("st"), first("ct").as("ct"))
          .withColumn("sr", col("st") - col("sl"))
          .withColumn("nr", col("ct") - col("nl"))
          .filter(col("nl") > 0 && col("nr") > 0)
          .withColumn("gain",
            (col("sl").cast(d) * col("sl").cast(d) * col("nr").cast(d) +
              col("sr").cast(d) * col("sr").cast(d) * col("nl").cast(d))
              .cast("double") /
              (col("nl").cast(d) * col("nr").cast(d)).cast("double"))
        val best = cand
          .withColumn("rn", row_number().over(
            Window.orderBy(col("gain").desc, col("t").asc)))
          .filter(col("rn") === 1)
          .select(col("t"), expr("sl div nl").as("vl"),
            expr("sr div nr").as("vr"), col("nl"),
            floor(col("gain")).as("gain_l"))
          .head()
        val (bt, vl, vr, nl, gl) = (best.getInt(0), best.getLong(1),
          best.getLong(2), best.getLong(3), best.getLong(4))
        rounds += ((k.toLong, bt.toLong, nl, vl, vr, gl))
        rCol = rCol - when(col("x") <= bt, vl).otherwise(vr)
      }
      val finalAbs = feat.withColumn("r", rCol)
        .agg(sum(abs(col("r"))).as("fin")).head().getLong(0)
      import s.implicits._
      rounds.toSeq
        .toDF("round", "split_t", "n_l", "v_l_e2", "v_r_e2", "gain_l")
        .withColumn("f0_e2", lit(f0))
        .withColumn("final_abs_resid_e2", lit(finalAbs))
    }, {
      val cands = (5 to 45 by 5)
        .map(t => s"($t)").mkString(",")
      val sb = new StringBuilder
      sb ++=
        """WITH feat AS MATERIALIZED (
          |  SELECT CAST(l_quantity AS BIGINT) AS x,
          |    (floor(l_extendedprice)::BIGINT * 100) AS y_e2
          |  FROM lineitem),
          |c0 AS (SELECT count(*)::BIGINT AS n,
          |  (sum(y_e2) // count(*))::BIGINT AS f0 FROM feat),
          |res1 AS MATERIALIZED (
          |  SELECT x, (y_e2 - c0.f0)::BIGINT AS r
          |  FROM feat CROSS JOIN c0)""".stripMargin
      for (k <- 1 to 3) {
        sb ++=
          s""",
             |bin$k AS (SELECT x, sum(r)::BIGINT AS s,
             |  count(*)::BIGINT AS c FROM res$k GROUP BY 1),
             |tot$k AS (SELECT sum(s)::BIGINT AS st,
             |  sum(c)::BIGINT AS ct FROM bin$k),
             |cand$k AS (
             |  SELECT t.t,
             |    sum(CASE WHEN b.x <= t.t THEN b.s ELSE 0 END)::BIGINT
             |      AS sl,
             |    sum(CASE WHEN b.x <= t.t THEN b.c ELSE 0 END)::BIGINT
             |      AS nl,
             |    any_value(tt.st) AS st, any_value(tt.ct) AS ct
             |  FROM bin$k b CROSS JOIN (VALUES $cands) t(t)
             |  CROSS JOIN tot$k tt GROUP BY 1),
             |g$k AS (
             |  SELECT t, sl, nl, st - sl AS sr, ct - nl AS nr,
             |    ((sl::HUGEINT * sl::HUGEINT * (ct - nl)::HUGEINT
             |      + (st - sl)::HUGEINT * (st - sl)::HUGEINT
             |        * nl::HUGEINT)::DOUBLE
             |     / (nl::HUGEINT * (ct - nl)::HUGEINT)::DOUBLE) AS gain
             |  FROM cand$k WHERE nl > 0 AND ct - nl > 0),
             |best$k AS MATERIALIZED (
             |  SELECT t::BIGINT AS t, (sl // nl)::BIGINT AS vl,
             |    (sr // nr)::BIGINT AS vr, nl,
             |    floor(gain)::BIGINT AS gain_l
             |  FROM (SELECT *, row_number() OVER (
             |      ORDER BY gain DESC, t ASC) AS rn FROM g$k)
             |  WHERE rn = 1),
             |res${k + 1} AS MATERIALIZED (
             |  SELECT x,
             |    (r - CASE WHEN x <= b.t THEN b.vl ELSE b.vr END)
             |      ::BIGINT AS r
             |  FROM res$k CROSS JOIN best$k b)""".stripMargin
      }
      sb ++=
        """,
          |fin AS (SELECT sum(abs(r))::BIGINT AS fab FROM res4)
          |SELECT u.round, u.split_t, u.n_l, u.v_l_e2, u.v_r_e2,
          |  u.gain_l, c0.f0 AS f0_e2, fin.fab AS final_abs_resid_e2
          |FROM (
          |  SELECT 1::BIGINT AS round, t AS split_t, nl AS n_l,
          |    vl AS v_l_e2, vr AS v_r_e2, gain_l FROM best1
          |  UNION ALL
          |  SELECT 2::BIGINT, t, nl, vl, vr, gain_l FROM best2
          |  UNION ALL
          |  SELECT 3::BIGINT, t, nl, vl, vr, gain_l FROM best3) u
          |CROSS JOIN c0 CROSS JOIN fin""".stripMargin
      sb.toString
    }),

    QueryDef("ml_pr_auc", (s, dir) => {
      // exact precision–recall metrics by the rank identity — the
      // imbalanced-class complement to ml_auc_exact's ROC: average
      // precision as the mean of precision@rank over the positives
      // (each term the exact rational tp·1e9 // rank, summed as
      // LONGS — no float accumulation), and the best-F1 operating
      // point found by exact cross-multiplied fraction comparison
      // (2tp·1e6 // (rank + P)), tie-broken by rank. Ranking is
      // deterministic: score desc, doc_id asc. Scale: one sort-once
      // window over the scored frame; every downstream frame is
      // constant-size.
      val scored = t(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("score"),
          (col("lang") === "en").cast("long").as("pos"))
      val ranked = scored
        .withColumn("rk", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc))
          .cast("long"))
        .withColumn("tp", sum("pos").over(
          Window.orderBy(col("score").desc, col("doc_id").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .localCheckpoint(true) // AP terms + F1 argmax read it
      val p = ranked.agg(sum("pos").as("np"), count(lit(1)).as("n"))
      val ap = ranked.filter(col("pos") === 1)
        .select(expr("tp * 1000000000 div rk").as("term_e9"))
        .agg(sum("term_e9").as("sum_terms"))
      val bestF1 = ranked.crossJoin(broadcast(p))
        .withColumn("rnf", row_number().over(Window.orderBy(
          // argmax of the fraction 2tp/(rk+np): ordering by the e18
          // integral quotient IS exact — two distinct fractions with
          // denominators ≤ b differ by ≥ 1/b², so at b ≤ 1e9 rows
          // their e18 quotients differ by ≥ 1 (floor error < that);
          // value ties (equal fractions) break by rank asc
          expr("(2 * tp * cast(1000000000000000000 as decimal(38,0)))" +
            " div (rk + np)").desc,
          col("rk").asc)))
        .filter(col("rnf") === 1)
        .select(expr("2 * tp * 1000000 div (rk + np)").as("best_f1_e6"),
          col("rk").as("best_f1_rank"), col("tp").as("best_f1_tp"))
      ap.crossJoin(broadcast(p)).crossJoin(broadcast(bestF1))
        .select(col("n"), col("np").as("n_pos"),
          expr("sum_terms div np").as("ap_e9"),
          col("best_f1_e6"), col("best_f1_rank"), col("best_f1_tp"))
    },
      """WITH scored AS (
        |  SELECT doc_id, length(text)::BIGINT AS score,
        |    (lang = 'en')::BIGINT AS pos
        |  FROM documents),
        |ranked AS MATERIALIZED (
        |  SELECT doc_id, pos,
        |    row_number() OVER (ORDER BY score DESC, doc_id ASC)
        |      ::BIGINT AS rk,
        |    sum(pos) OVER (ORDER BY score DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      ::BIGINT AS tp
        |  FROM scored),
        |p AS (SELECT sum(pos)::BIGINT AS np, count(*)::BIGINT AS n
        |  FROM ranked),
        |ap AS (SELECT sum(tp * 1000000000 // rk)::BIGINT AS sum_terms
        |  FROM ranked WHERE pos = 1),
        |bf AS (
        |  SELECT (2 * tp * 1000000 // (rk + np))::BIGINT AS best_f1_e6,
        |    rk AS best_f1_rank, tp AS best_f1_tp
        |  FROM (SELECT r.rk, r.tp, p.np, row_number() OVER (
        |      ORDER BY (2 * r.tp::HUGEINT * 1000000000000000000
        |        // (r.rk + p.np)) DESC, r.rk ASC) AS rnf
        |    FROM ranked r CROSS JOIN p)
        |  WHERE rnf = 1)
        |SELECT p.n, p.np AS n_pos,
        |  (ap.sum_terms // p.np)::BIGINT AS ap_e9,
        |  bf.best_f1_e6, bf.best_f1_rank, bf.best_f1_tp
        |FROM ap CROSS JOIN p CROSS JOIN bf""".stripMargin),

    QueryDef("cluster_single_linkage", (s, dir) => {
      // exact single-linkage HIERARCHICAL clustering, 1D special case
      // (Sibson's SLINK semantics; in one dimension the dendrogram is
      // closed-form): the agglomerative member the partitional family
      // (k-means = centroid, DBSCAN = density) can't express — merge
      // heights ARE the sorted neighbor gaps, so the exact k-cluster
      // solution cuts the k−1 LARGEST gaps (ties: gap desc, x asc) of
      // the first embedding coordinate. No iteration, no candidate
      // joins: the full dendrogram collapses to one distinct-value
      // rollup (coordinates in e6 longs — the DBSCAN discipline, so
      // gap arithmetic is exact integers) plus windows over that
      // ROLLUP frame (the mann_whitney discipline — bounded by the
      // coordinate domain, never the row count; duplicate mass rides
      // along as multiplicity). Output: the k clusters in coordinate
      // order with population, extent, and the dendrogram height
      // (split_gap) at which each separates from its right neighbor —
      // i.e. the top of the merge tree, hash-checkable.
      val K = 8
      val pts = t(s, dir, "embeddings")
        .select(floor(col("embedding").getItem(0).cast("double")
          * 1000000.0 + 0.5).cast("long").as("x"))
        .groupBy("x").agg(count(lit(1)).as("mult"))
      val wOrd = Window.orderBy(col("x").asc)
      val g = pts.withColumn("nxt", lead(col("x"), 1).over(wOrd))
        .withColumn("gap", coalesce(col("nxt") - col("x"), lit(0L)))
      val ranked = g.withColumn("rk", row_number().over(
          Window.orderBy(col("gap").desc, col("x").asc)))
        .withColumn("cut",
          (col("rk") <= K - 1 && col("nxt").isNotNull).cast("long"))
      val wCum = Window.orderBy(col("x").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      ranked
        .withColumn("cluster_idx",
          coalesce(sum(col("cut")).over(wCum), lit(0L)))
        .groupBy("cluster_idx")
        .agg(sum("mult").as("n_points"),
          count(lit(1)).as("n_distinct"),
          min("x").as("min_x"), max("x").as("max_x"),
          max(when(col("cut") === 1L, col("gap")).otherwise(lit(0L)))
            .as("split_gap"))
    },
      """WITH pts AS MATERIALIZED (
        |  SELECT floor(embedding[1]::DOUBLE * 1000000.0 + 0.5)::BIGINT
        |      AS x,
        |    count(*)::BIGINT AS mult
        |  FROM embeddings GROUP BY 1),
        |g AS MATERIALIZED (
        |  SELECT x, mult, lead(x) OVER (ORDER BY x ASC) AS nxt,
        |    coalesce(lead(x) OVER (ORDER BY x ASC) - x, 0)::BIGINT
        |      AS gap
        |  FROM pts),
        |rk AS MATERIALIZED (
        |  SELECT x, mult, nxt, gap,
        |    row_number() OVER (ORDER BY gap DESC, x ASC) AS rk
        |  FROM g),
        |cuts AS MATERIALIZED (
        |  SELECT x, mult, gap,
        |    (rk <= 7 AND nxt IS NOT NULL)::BIGINT AS cut
        |  FROM rk),
        |cl AS (
        |  SELECT x, mult, gap, cut,
        |    coalesce(sum(cut) OVER (ORDER BY x ASC ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |      AS cluster_idx
        |  FROM cuts)
        |SELECT cluster_idx, sum(mult)::BIGINT AS n_points,
        |  count(*)::BIGINT AS n_distinct,
        |  min(x)::BIGINT AS min_x, max(x)::BIGINT AS max_x,
        |  max(CASE WHEN cut = 1 THEN gap ELSE 0 END)::BIGINT
        |    AS split_gap
        |FROM cl GROUP BY 1""".stripMargin),

    locally {
      val (k, eps, rounds) = (8, 50000L, 12)
      QueryDef("cluster_single_linkage_2d", (s, dir) => {
        // multi-D single-linkage (VERDICT r11 #5): the dendrogram IS the
        // MST (Gower & Ross 1969), so the exact k-cluster partition
        // deletes the k−1 heaviest forest edges. The forest comes from
        // ops.SingleLinkage's Borůvka rounds over the SAME grid
        // eps-candidate graph DBSCAN runs on (distinct-coordinate
        // rollup, 3×3 cell join, hot-cell salting) — merge heights are
        // exact integer squared distances, totally ordered by
        // (dist_sq, a, b) so the forest and the cut are unique and the
        // oracle can replay the identical synchronous rounds against
        // the ALL-PAIRS edge definition (proving the grid graph
        // lossless). eps bounds the dendrogram height — pairs farther
        // than eps never merge (the truncation that keeps this off the
        // O(n²) all-pairs path at scale).
        val pts = t(s, dir, "embeddings")
          .select(col("vec_id"),
            floor(col("embedding").getItem(0).cast("double")
              * 1000000.0 + 0.5).as("x"),
            floor(col("embedding").getItem(1).cast("double")
              * 1000000.0 + 0.5).as("y"))
        val rp = graft.ops.Dbscan.reps(pts).localCheckpoint(true)
        val mst = graft.ops.SingleLinkage.mstEdges(rp, eps)
        graft.ops.SingleLinkage.cut(rp, mst, k)
          .join(rp, Seq("rid"))
          .groupBy("cluster")
          .agg(sum("mult").as("n_points"),
            count(lit(1)).as("n_distinct"),
            min("x").as("min_x"), max("x").as("max_x"),
            min("y").as("min_y"), max("y").as("max_y"))
      }, {
        // Oracle for `cluster_single_linkage_2d`: Borůvka replayed against
        // the ALL-PAIRS eps-edge definition (no grid — proving the engine's
        // grid candidate graph lossless, the dbscan-oracle precedent).
        // Each round every component picks its (w, a, b)-lexicographic-min
        // outgoing edge; the accumulated forest's components come from a
        // per-round recursive reachability closure (exact, no iteration
        // bound); after `rounds` no-op-padded rounds (Borůvka halves
        // components, so rounds ≥ ⌈log2 n⌉ converges — n ≤ 2^rounds at
        // every oracle-gated fixture), the k−1 heaviest forest edges are
        // cut and clusters labeled by min rid. Mirrors
        // [[graft.ops.SingleLinkage]].
        //
        // Convergence tripwire (ADVICE r12 #3): the engine side `require`s
        // Borůvka convergence, but this fixed-`rounds` replay previously had
        // no equivalent — on a fixture with > 2^rounds initial components an
        // unconverged forest surfaced only as a confusing hash mismatch. The
        // final `unconv` CTE counts cross-component eps-edges left after
        // round `rounds` and emits a loud sentinel row (cluster = -1,
        // n_points = -edges) when any remain, so the gate fails with an
        // explicit non-convergence signal instead of a value diff.
        val sb = new StringBuilder
        sb ++=
          s"""WITH RECURSIVE pts AS (
             |  SELECT vec_id,
             |    CAST(floor(embedding[1]::DOUBLE * 1000000 + 0.5) AS BIGINT)
             |      AS x,
             |    CAST(floor(embedding[2]::DOUBLE * 1000000 + 0.5) AS BIGINT)
             |      AS y
             |  FROM embeddings),
             |reps AS MATERIALIZED (
             |  SELECT x, y, min(vec_id) AS rid, count(*) AS mult
             |  FROM pts GROUP BY 1, 2),
             |sledges AS MATERIALIZED (
             |  SELECT a, b, w FROM (
             |    SELECT ra.rid AS a, rb.rid AS b,
             |      (ra.x - rb.x) * (ra.x - rb.x)
             |        + (ra.y - rb.y) * (ra.y - rb.y) AS w
             |    FROM reps ra JOIN reps rb ON ra.rid < rb.rid)
             |  WHERE w <= ${eps * eps}),
             |bc0 AS (SELECT rid AS node, rid AS label FROM reps),
             |acc0 AS (SELECT a, b, w FROM sledges WHERE false)""".stripMargin
        for (r <- 1 to rounds) {
          sb ++=
            s""",
               |cx$r AS (
               |  SELECT e.a, e.b, e.w, ca.label AS la, cb.label AS lb
               |  FROM sledges e JOIN bc${r - 1} ca ON ca.node = e.a
               |  JOIN bc${r - 1} cb ON cb.node = e.b
               |  WHERE ca.label <> cb.label),
               |pk$r AS (
               |  SELECT DISTINCT a, b, w FROM (
               |    SELECT a, b, w, row_number() OVER (PARTITION BY c
               |      ORDER BY w, a, b) AS rn
               |    FROM (SELECT la AS c, a, b, w FROM cx$r
               |      UNION ALL SELECT lb, a, b, w FROM cx$r))
               |  WHERE rn = 1),
               |acc$r AS MATERIALIZED (
               |  SELECT DISTINCT a, b, w FROM (
               |    SELECT a, b, w FROM acc${r - 1}
               |    UNION ALL SELECT a, b, w FROM pk$r)),
               |sym$r AS (SELECT a AS src, b AS dst FROM acc$r
               |  UNION ALL SELECT b, a FROM acc$r),
               |rc$r(id, rr) AS (
               |  SELECT rid, rid FROM reps
               |  UNION
               |  SELECT rc$r.id, s.dst FROM rc$r
               |  JOIN sym$r s ON s.src = rc$r.rr),
               |bc$r AS MATERIALIZED (
               |  SELECT id AS node, min(rr) AS label FROM rc$r
               |  GROUP BY 1)""".stripMargin
        }
        sb ++=
          s""",
             |mstr AS (SELECT a, b, w, row_number() OVER (
             |    ORDER BY w DESC, a DESC, b DESC) AS rk
             |  FROM acc$rounds),
             |kept AS (SELECT a AS src, b AS dst FROM mstr WHERE rk > ${k - 1}
             |  UNION ALL
             |  SELECT b, a FROM mstr WHERE rk > ${k - 1}),
             |rck(id, rr) AS (
             |  SELECT rid, rid FROM reps
             |  UNION
             |  SELECT rck.id, s.dst FROM rck JOIN kept s ON s.src = rck.rr),
             |fin AS (SELECT id AS rid, min(rr) AS cluster FROM rck
             |  GROUP BY 1),
             |unconv AS (
             |  SELECT count(*)::BIGINT AS n FROM sledges e
             |  JOIN bc$rounds ca ON ca.node = e.a
             |  JOIN bc$rounds cb ON cb.node = e.b
             |  WHERE ca.label <> cb.label)
             |SELECT f.cluster, sum(r.mult)::BIGINT AS n_points,
             |  count(*)::BIGINT AS n_distinct,
             |  min(r.x) AS min_x, max(r.x) AS max_x,
             |  min(r.y) AS min_y, max(r.y) AS max_y
             |FROM reps r JOIN fin f ON f.rid = r.rid
             |GROUP BY 1
             |UNION ALL
             |SELECT -1::BIGINT, -n, -1::BIGINT, 0::BIGINT, 0::BIGINT,
             |  0::BIGINT, 0::BIGINT
             |FROM unconv WHERE n > 0""".stripMargin
        sb.toString
      })
    },

    locally {
      val (eps, minPts, rounds) = (50000L, 8L, 12) // minPts counts the point
      QueryDef("cluster_dbscan_grid", (s, dir) => {
        // grid-accelerated DBSCAN (Ester et al. 1996) over the first two
        // embedding coordinates — the DENSITY clustering the centroid
        // family (k-means/SemDeDup) can't express: clusters are
        // eps-connected cores (≥ minPts neighbors), borders attach to
        // their min core cluster, the rest is noise. Coordinates land in
        // e6 longs once (floor(x·1e6+0.5) — bit-identical on identical
        // doubles), so neighbor tests are exact integer squared-distance
        // compares. The SCALE story is ops.Dbscan: a distinct-coordinate
        // multiplicity rollup collapses duplicate mass (a mode-collapsed
        // corpus's hot cell becomes ONE representative), hot DISTINCT
        // cells get a salted 3×3 eps-cell join, and after the rollup a
        // packing argument bounds candidate volume by O(true eps-pair
        // mass + distinct points) — the superset filter never changes
        // semantics (the oracle proves the output against the all-pairs
        // definition; cluster_dbscan_pairs proves the candidate set
        // itself). Core components run on the engine's
        // convergence-checked min-label propagation.
        val pts = t(s, dir, "embeddings")
          .select(col("vec_id"),
            floor(col("embedding").getItem(0).cast("double")
              * 1000000.0 + 0.5).as("x"),
            floor(col("embedding").getItem(1).cast("double")
              * 1000000.0 + 0.5).as("y"))
        graft.ops.Dbscan.cluster(pts, eps, minPts)
      }, {
        // Oracle for `cluster_dbscan_grid` (VERDICT r13 #4): the DuckDB twin
        // now mirrors the ENGINE's scale discipline instead of degrading to
        // the quadratic all-pairs definition that timed out at the 10×
        // fixture (2400 s pool cap + a 3600 s solo watchdog the recursive
        // closure did not honor):
        //
        //   1. distinct-coordinate rollup (`reps`) — duplicate mass becomes
        //      one representative with a multiplicity, exactly as
        //      `ops.Dbscan.reps` (co-located points are role-
        //      interchangeable, see the engine's exactness argument);
        //   2. the 3×3 eps-cell grid join — each rep probes 9 cells, pairs
        //      hash-join on (cx, cy) and pass the EXACT integer squared-
        //      distance filter, so pair generation is O(candidate pairs),
        //      never O(n²); the superset-then-exact-filter is lossless for
        //      any integer division flavor (a cell is at most eps wide, so
        //      |Δx| ≤ eps ⇒ |Δcx| ≤ 1);
        //   3. core components via `rounds` UNROLLED min-label rounds, each
        //      an edge relax + a pointer jump (label ← min(label,
        //      label(label))) — O(log diameter) convergence instead of the
        //      transitive-closure CTE whose intermediate size is quadratic
        //      in component size on the dense 10× eps-graph;
        //   4. a convergence SENTINEL: if the last two label frames differ,
        //      one poison row (vec_id −1, role −1, cluster = #unconverged)
        //      is appended, flipping the gate red LOUDLY instead of ever
        //      passing split labels silently (the single-linkage
        //      convergence-tripwire precedent).
        val eps2 = eps * eps
        val labelCtes = (1 to rounds).map { k =>
          s"""e$k AS MATERIALIZED (
             |  SELECT v, min(l) AS l FROM (
             |    SELECT v, l FROM l${k - 1}
             |    UNION ALL
             |    SELECT e.dst AS v, p.l FROM l${k - 1} p
             |    JOIN ce e ON e.src = p.v
             |  ) GROUP BY v),
             |l$k AS MATERIALIZED (
             |  SELECT a.v, least(a.l, coalesce(b.l, a.l)) AS l
             |  FROM e$k a LEFT JOIN e$k b ON b.v = a.l)""".stripMargin
        }.mkString(",\n")
        s"""WITH pts AS MATERIALIZED (
           |  SELECT vec_id,
           |    floor(embedding[1]::DOUBLE * 1000000.0 + 0.5)::BIGINT AS x,
           |    floor(embedding[2]::DOUBLE * 1000000.0 + 0.5)::BIGINT AS y
           |  FROM embeddings),
           |cells AS MATERIALIZED (
           |  SELECT min(vec_id)::BIGINT AS rid, x, y,
           |    count(*)::BIGINT AS mult, x // $eps AS cx, y // $eps AS cy
           |  FROM pts GROUP BY x, y),
           |probe AS (
           |  SELECT c.rid, c.x, c.y, c.mult,
           |    c.cx + o.ox AS cx, c.cy + o.oy AS cy
           |  FROM cells c CROSS JOIN (
           |    SELECT a.ox, b.oy FROM (VALUES (-1), (0), (1)) a(ox),
           |         (VALUES (-1), (0), (1)) b(oy)) o),
           |nbr AS MATERIALIZED (
           |  SELECT a.rid AS ra, b.rid AS rb, b.mult AS mult_b
           |  FROM cells a JOIN probe b ON b.cx = a.cx AND b.cy = a.cy
           |  WHERE a.rid <> b.rid
           |    AND (a.x - b.x) * (a.x - b.x)
           |      + (a.y - b.y) * (a.y - b.y) <= $eps2),
           |roles AS MATERIALIZED (
           |  SELECT c.rid, c.x, c.y, c.mult,
           |    (CASE WHEN c.mult + coalesce(w.wnn, 0) >= $minPts
           |      THEN 1 ELSE 0 END) AS is_core
           |  FROM cells c LEFT JOIN (
           |    SELECT ra AS rid, sum(mult_b) AS wnn FROM nbr GROUP BY 1) w
           |    USING (rid)),
           |ce AS MATERIALIZED (
           |  SELECT n.ra AS src, n.rb AS dst FROM nbr n
           |  JOIN roles sa ON sa.rid = n.ra AND sa.is_core = 1
           |  JOIN roles sb ON sb.rid = n.rb AND sb.is_core = 1),
           |l0 AS MATERIALIZED (
           |  SELECT rid AS v, rid AS l FROM roles WHERE is_core = 1),
           |$labelCtes,
           |delta AS (
           |  SELECT count(*)::BIGINT AS d
           |  FROM l$rounds a JOIN l${rounds - 1} b
           |    ON a.v = b.v AND a.l <> b.l),
           |corelbl AS MATERIALIZED (
           |  SELECT v AS rid, l AS cluster FROM l$rounds),
           |borderlbl AS MATERIALIZED (
           |  SELECT r.rid, min(cl.cluster) AS cluster
           |  FROM roles r JOIN nbr n ON n.ra = r.rid
           |  JOIN corelbl cl ON cl.rid = n.rb
           |  WHERE r.is_core = 0 GROUP BY 1),
           |lbl AS (
           |  SELECT rid, 2 AS role, cluster FROM corelbl
           |  UNION ALL
           |  SELECT rid, 1, cluster FROM borderlbl
           |  UNION ALL
           |  SELECT r.rid, 0, -1 FROM roles r
           |  WHERE r.is_core = 0
           |    AND r.rid NOT IN (SELECT rid FROM borderlbl))
           |SELECT p.vec_id, l.role::BIGINT AS role,
           |  l.cluster::BIGINT AS cluster
           |FROM pts p JOIN cells c USING (x, y) JOIN lbl l ON l.rid = c.rid
           |UNION ALL
           |SELECT (-1)::BIGINT, (-1)::BIGINT, d FROM delta WHERE d > 0"""
          .stripMargin
      })
    },

    locally {
      val eps = 50000L
      QueryDef("cluster_dbscan_pairs", (s, dir) => {
        // the DBSCAN candidate generator as a first-class oracle-gated
        // surface (VERDICT r9 #1/#3): every representative-level
        // eps-neighbor pair the grid join emits, checked against the
        // all-pairs-over-distinct-coordinates definition. This is what
        // makes the at-scale story REPLAYABLE — an independent checker
        // only needs soundness (each emitted pair is truly within eps)
        // plus sampled completeness over this dump, never an n² rebuild
        // (scripts/dbscan_scale_check.py runs that at the 10× fixture,
        // where the full all-pairs oracle exceeded its cap). eps is
        // cluster_dbscan_grid's: the checker replays both dumps at one eps.
        val pts = t(s, dir, "embeddings")
          .select(col("vec_id"),
            floor(col("embedding").getItem(0).cast("double")
              * 1000000.0 + 0.5).as("x"),
            floor(col("embedding").getItem(1).cast("double")
              * 1000000.0 + 0.5).as("y"))
        graft.ops.Dbscan
          .neighborPairs(graft.ops.Dbscan.reps(pts), eps)
          .select(col("ra"), col("rb"), col("mult_a"), col("mult_b"),
            col("dist_sq"))
      },
        s"""WITH pts AS MATERIALIZED (
          |  SELECT vec_id,
          |    floor(embedding[1]::DOUBLE * 1000000.0 + 0.5)::BIGINT AS x,
          |    floor(embedding[2]::DOUBLE * 1000000.0 + 0.5)::BIGINT AS y
          |  FROM embeddings),
          |reps AS MATERIALIZED (
          |  SELECT x, y, min(vec_id)::BIGINT AS rid,
          |    count(*)::BIGINT AS mult
          |  FROM pts GROUP BY 1, 2)
          |SELECT a.rid AS ra, b.rid AS rb, a.mult AS mult_a,
          |  b.mult AS mult_b,
          |  ((a.x - b.x) * (a.x - b.x)
          |    + (a.y - b.y) * (a.y - b.y))::BIGINT AS dist_sq
          |FROM reps a JOIN reps b ON a.rid <> b.rid
          |  AND (a.x - b.x) * (a.x - b.x)
          |    + (a.y - b.y) * (a.y - b.y) <= ${eps * eps}"""
          .stripMargin)
    },

    locally {
      val iters = 3
      QueryDef("pref_bradley_terry", (s, dir) => {
        // Bradley–Terry preference model (Bradley & Terry, Biometrika
        // 1952) — the PAIRWISE-preference member no other family covers,
        // and the shape of RLHF preference-data analysis: given "A beat
        // B" comparisons, fit latent strengths w with
        // P(i beats j) = w_i/(w_i + w_j). Comparisons are mined from the
        // event log: within each (user, day), an event type with
        // strictly higher spend beats every co-present lower one (ties
        // abstain). Fit: 3 unrolled rounds of the classic MM update
        // (Hunter, Ann. Stat. 2004) w_i ← W_i / Σ_j m_ij/(w_i + w_j) —
        // per-entity closed form, like ALS. Exactness: strengths are e6
        // longs; each round's denominators are exact integral terms
        // m_ij·1e12 div (w_i+w_j) (the numerator clears into
        // DECIMAL(38,0): W_i·1e12 overflows a long at ~9·10⁶
        // comparisons — the profile_abc lesson at design time); the MM
        // update is scale-free, so no normalization step is needed and
        // values stay e6-bounded from the w₀ = 1e6 init. Zero-win items
        // converge to the MLE boundary w = 0 in one round, exactly, in
        // both engines; items with no comparisons at all are absent
        // (strength undefined). Scale: the corpus-sized work is ONE
        // (user, day, type) rollup + a per-(user, day) self-join whose
        // fan-out is bounded by the TYPE-ENUM size squared; everything
        // after is enum×enum-sized.
        val d = "decimal(38,0)"
        val ud = t(s, dir, "events")
          .groupBy(col("user_id"),
            datediff(col("ts").cast("date"),
              lit("2024-01-01").cast("date")).as("day"),
            col("event_type"))
          .agg(sum(round(col("value") * 100).cast("long")).as("c"))
          .localCheckpoint(true) // both sides of the pair join read it
        val duel = ud.as("a").join(ud.as("b"),
            col("a.user_id") === col("b.user_id") &&
              col("a.day") === col("b.day") &&
              col("a.event_type") < col("b.event_type"))
          .select(
            when(col("a.c") > col("b.c"), col("a.event_type"))
              .when(col("a.c") < col("b.c"), col("b.event_type"))
              .as("winner"),
            when(col("a.c") > col("b.c"), col("b.event_type"))
              .when(col("a.c") < col("b.c"), col("a.event_type"))
              .as("loser"))
          .filter(col("winner").isNotNull)
        val wins = duel.groupBy(col("winner").as("i"),
            col("loser").as("j"))
          .agg(count(lit(1)).as("n"))
          .localCheckpoint(true) // opp + win totals + items read it
        val opp = wins.select(col("i"), col("j"), col("n"))
          .unionByName(wins.select(col("j").as("i"), col("i").as("j"),
            col("n")))
          .groupBy("i", "j").agg(sum("n").as("m"))
          .localCheckpoint(true) // read by every MM round
        val items = opp.select("i").distinct()
        val winTot = items.join(
            wins.groupBy("i").agg(sum("n").as("w")), Seq("i"), "left")
          .select(col("i"), coalesce(col("w"), lit(0L)).as("w"))
          .localCheckpoint(true)
        var str = items.withColumn("s", lit(1000000L))
        for (_ <- 1 to iters) {
          val dsum = opp
            .join(str.select(col("i"), col("s").as("si")), Seq("i"))
            .join(str.select(col("i").as("j"), col("s").as("sj")),
              Seq("j"))
            .select(col("i"),
              expr(s"cast(cast(m as $d) * 1000000000000" +
                s" div greatest(si + sj, 1L) as long)").as("t"))
            .groupBy("i").agg(sum("t").as("dd"))
          str = winTot.join(dsum, Seq("i"))
            .select(col("i"),
              expr(s"cast(cast(w as $d) * 1000000000000" +
                s" div greatest(cast(dd as $d), cast(1 as $d))" +
                s" as long)").as("s"))
        }
        str.join(winTot, Seq("i"))
          .join(opp.groupBy("i").agg(sum("m").as("n_comparisons")),
            Seq("i"))
          .select(col("i").as("event_type"), col("w").as("wins"),
            col("n_comparisons"), col("s").as("strength_e6"))
      }, {
        // Oracle for `pref_bradley_terry`: the comparison mining and the
        // unrolled MM rounds replayed — same duel rule (strict spend win,
        // ties abstain), same e6 integral-term denominators in HUGEINT,
        // same zero-win boundary behavior.
        val sb = new StringBuilder
        sb ++=
          s"""WITH ud AS MATERIALIZED (
             |  SELECT user_id,
             |    datediff('day', DATE '2024-01-01', ts::DATE) AS day,
             |    event_type,
             |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
             |  FROM events GROUP BY 1, 2, 3),
             |duel AS (
             |  SELECT CASE WHEN a.c > b.c THEN a.event_type
             |      WHEN a.c < b.c THEN b.event_type END AS winner,
             |    CASE WHEN a.c > b.c THEN b.event_type
             |      WHEN a.c < b.c THEN a.event_type END AS loser
             |  FROM ud a JOIN ud b ON a.user_id = b.user_id
             |    AND a.day = b.day AND a.event_type < b.event_type),
             |wins AS MATERIALIZED (
             |  SELECT winner AS i, loser AS j, count(*)::BIGINT AS n
             |  FROM duel WHERE winner IS NOT NULL GROUP BY 1, 2),
             |opp AS MATERIALIZED (
             |  SELECT i, j, sum(n)::BIGINT AS m FROM (
             |    SELECT i, j, n FROM wins
             |    UNION ALL SELECT j, i, n FROM wins)
             |  GROUP BY 1, 2),
             |items AS (SELECT DISTINCT i FROM opp),
             |wt AS MATERIALIZED (
             |  SELECT it.i, coalesce(s.w, 0)::BIGINT AS w
             |  FROM items it LEFT JOIN (SELECT i, sum(n)::BIGINT AS w
             |    FROM wins GROUP BY 1) s USING (i)),
             |s0 AS (SELECT i, 1000000::BIGINT AS s FROM items)""".stripMargin
        for (r <- 1 to iters) {
          sb ++=
            s""",
               |d$r AS (
               |  SELECT o.i,
               |    sum((o.m::HUGEINT * 1000000000000)
               |      // greatest(si.s + sj.s, 1))::BIGINT AS dd
               |  FROM opp o JOIN s${r - 1} si ON si.i = o.i
               |  JOIN s${r - 1} sj ON sj.i = o.j
               |  GROUP BY 1),
               |s$r AS MATERIALIZED (
               |  SELECT wt.i,
               |    ((wt.w::HUGEINT * 1000000000000)
               |      // greatest(dd::HUGEINT, 1))::BIGINT AS s
               |  FROM wt JOIN d$r USING (i))""".stripMargin
        }
        sb ++=
          s"""
             |SELECT s.i AS event_type, wt.w AS wins,
             |  oc.m AS n_comparisons, s.s AS strength_e6
             |FROM s$iters s JOIN wt USING (i)
             |JOIN (SELECT i, sum(m)::BIGINT AS m FROM opp GROUP BY 1) oc
             |  USING (i)""".stripMargin
        sb.toString
      })
    },

    locally {
      val (rounds, lam) = (2, 100000L) // λ = 0.1 in e6
      QueryDef("recs_als_rank1", (s, dir) => {
        // rank-1 Alternating Least Squares (Zhou et al., AAIM'08 — the
        // canonical distributed matrix-factorization recommender) over
        // the customer×part quantity matrix: the LATENT-factor member
        // the neighborhood family (recs_item_cosine = item-item
        // similarity) can't express — a global low-rank structure that
        // scores parts a customer has NEVER co-purchased with anything.
        // Two full alternations of the closed-form ridge update
        // u_c = Σ r·v / (Σ v² + λ), v_p symmetric. Exactness: factors
        // are e6 longs; each update is ONE join + rollup of exact
        // integer products (per-term v²·div-1e6 truncation —
        // deterministic under any partitioning), one integral division
        // per entity; NO floats anywhere. Output: top-3 unbought parts
        // for the fixed 20-customer eval slice (the ml_knn_classify
        // fixed-eval discipline: eval work is corpus-size-independent,
        // candidate scoring is linear in parts). Scale: factor frames
        // shuffle by entity key only; bound stated — num·1e6 stays
        // inside long for Σr·v ≤ 9·10¹².
        // OPTIMIZATION r14: the ratings frame is materialized TWICE, once
        // hash-partitioned by p and once by c (localCheckpoint preserves
        // the physical partitioning into LogicalRDD), so each of the four
        // alternations joins its factor frame WITHOUT re-shuffling the
        // ratings — the factor rollup's groupBy transpose is the only
        // exchange the big frame pays per half-step. This is the classic
        // ALS block layout (partition the ratings both ways once, reuse
        // across iterations); the second copy costs one extra
        // materialization of an already-reduced frame.
        // OPTIMIZATION r15 (action fusion): every checkpoint except
        // ratingsC is LAZY — the blocks persist when the first consumer
        // stage computes them, so the eager count pass (one extra
        // result-stage + job per checkpoint, 5 of them here) disappears
        // while plan truncation and partitioning reuse are unchanged.
        // ratingsC stays eager as the anchor: it materializes ratingsP
        // and itself in ONE action before the alternations fan out, so
        // no two concurrent stages ever race to compute the big frame.
        val ratingsP = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
          .join(t(s, dir, "orders").select(col("o_orderkey"),
            col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey").as("c"), col("l_partkey").as("p"))
          .agg(sum(col("l_quantity").cast("long")).as("r"))
          .repartition(col("p"))
          .localCheckpoint(false) // both v half-steps + p-distinct read it
        val ratingsC = ratingsP.repartition(col("c"))
          .localCheckpoint(true) // both u half-steps + eval slices read it
        var v = ratingsP.select("p").distinct()
          .withColumn("v_e6", lit(1000000L))
        var u: DataFrame = null
        for (_ <- 1 to rounds) {
          u = ratingsP.join(v, Seq("p"))
            .groupBy("c")
            .agg(sum(col("r") * col("v_e6")).as("num"),
              sum(expr("v_e6 * v_e6 div 1000000")).as("den"))
            .select(col("c"),
              expr(s"num * 1000000 div (den + $lam)").as("u_e6"))
            .localCheckpoint(false) // next half-step + scoring read it
          v = ratingsC.join(u, Seq("c"))
            .groupBy("p")
            .agg(sum(col("r") * col("u_e6")).as("num"),
              sum(expr("u_e6 * u_e6 div 1000000")).as("den"))
            .select(col("p"),
              expr(s"num * 1000000 div (den + $lam)").as("v_e6"))
            .localCheckpoint(false)
        }
        val ratings = ratingsC
        // scoring: the 20-row eval slice broadcasts against the part
        // factors (v streams, never collects), and the anti-join's
        // ratings prune to the eval customers FIRST — the 100 TB shape:
        // nothing matrix-sized crosses an executor boundary here.
        // Per-customer top-3 comes from the bounded top-k aggregate
        // (map-side ≤3 per customer per partition — the
        // curate_domain_cap discipline), NOT a rank window: a
        // Window.partitionBy(c) over 20 customers is 20 parts-sized
        // task-local sorts at 100M parts. (score desc, p asc) packs
        // into one long key score_e6·2³¹ − p, exact while
        // score_e6 < 2³² and 0 ≤ p < 2³¹ — guarded loudly (factors
        // are nonnegative by construction: r ≥ 1, v₀ = 1e6; observed
        // scores are ~2²⁶, part keys at the 100× key-shifted fixture
        // reach ~2³⁰).
        val evalBought = ratings.filter(col("c") <= 20).select("c", "p")
        val uEval = u.filter(col("c") <= 20)
        val pb = 1L << 31
        val ord = when(col("score_e6") >= lit(Long.MaxValue / pb) ||
            col("p") >= lit(pb) || col("p") < 0 || col("score_e6") < 0,
            raise_error(concat(lit("als top-k pack out of range: p="),
              col("p"), lit(" score_e6="), col("score_e6"))).cast("long"))
          .otherwise(col("score_e6") * lit(pb) - col("p"))
        val winners = v.crossJoin(broadcast(uEval))
          .withColumn("score_e6", expr("u_e6 * v_e6 div 1000000"))
          .join(broadcast(evalBought), Seq("c", "p"), "left_anti")
          .groupBy("c")
          .agg(graft.expressions.TopKBy.top_k_by(ord, col("p"), 3)
            .as("top"))
          .select(col("c"), posexplode(col("top")).as(Seq("pos", "p")))
          .select(col("c"), col("p"), (col("pos") + 1).cast("int")
            .as("rank"))
        // score re-derivation for the ≤60 winner rows: v streams
        // against the broadcast winner/eval frames — map-only
        v.join(broadcast(winners), Seq("p"))
          .join(broadcast(uEval), Seq("c"))
          .withColumn("score_e6", expr("u_e6 * v_e6 div 1000000"))
          .select(col("c").as("o_custkey"), col("p").as("l_partkey"),
            col("score_e6"), col("rank"))
      }, {
        // Oracle for `recs_als_rank1`: the two ALS alternations unrolled —
        // identical ratings rollup, identical integer factor updates
        // (per-term v²//1e6 truncation, integral num·1e6//(den+λ)
        // division — all operands positive so DuckDB floor-div equals
        // Spark trunc-div), identical fixed eval slice, anti-join and
        // per-customer top-3.
        val sb = new StringBuilder
        sb.append(
          """WITH ratings AS MATERIALIZED (
            |  SELECT o.o_custkey AS c, l.l_partkey AS p,
            |    sum(CAST(l.l_quantity AS BIGINT))::BIGINT AS r
            |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
            |  GROUP BY 1, 2),
            |v0 AS (SELECT DISTINCT p, 1000000::BIGINT AS v_e6
            |  FROM ratings),
            |""".stripMargin)
        for (rd <- 1 to rounds) {
          sb.append(
            s"""u$rd AS MATERIALIZED (
               |  SELECT r.c,
               |    ((sum(r.r * v.v_e6) * 1000000)
               |      // (sum(v.v_e6 * v.v_e6 // 1000000) + $lam))::BIGINT
               |      AS u_e6
               |  FROM ratings r JOIN v${rd - 1} v ON v.p = r.p
               |  GROUP BY 1),
               |v$rd AS MATERIALIZED (
               |  SELECT r.p,
               |    ((sum(r.r * u.u_e6) * 1000000)
               |      // (sum(u.u_e6 * u.u_e6 // 1000000) + $lam))::BIGINT
               |      AS v_e6
               |  FROM ratings r JOIN u$rd u ON u.c = r.c
               |  GROUP BY 1),
               |""".stripMargin)
        }
        sb.append(
          s"""scored AS (
             |  SELECT u.c, v.p,
             |    (u.u_e6 * v.v_e6 // 1000000)::BIGINT AS score_e6
             |  FROM u$rounds u CROSS JOIN v$rounds v
             |  WHERE u.c <= 20
             |    AND NOT EXISTS (SELECT 1 FROM ratings x
             |      WHERE x.c = u.c AND x.p = v.p)),
             |ranked AS (
             |  SELECT c, p, score_e6,
             |    row_number() OVER (PARTITION BY c
             |      ORDER BY score_e6 DESC, p ASC)::INT AS rank
             |  FROM scored)
             |SELECT c AS o_custkey, p AS l_partkey, score_e6, rank
             |FROM ranked WHERE rank <= 3""".stripMargin)
        sb.toString
      })
    },

    locally {
      val (rounds, lam) = (2, 100000L) // λ = 0.1 in e6
      QueryDef("recs_als_rank2", (s, dir) => {
        // rank-2 ALS (Zhou et al., AAIM'08) — the TRUE latent-factor
        // member: rank-1 is popularity×affinity (one global axis);
        // rank 2 is the first factorization that can separate taste
        // dimensions. Per-entity update is the closed-form 2×2 ridge
        // normal-equation solve (AᵀA + λI)x = Aᵀb via CRAMER'S RULE —
        // the ml_ridge_normal discipline distributed: each alternation
        // is ONE join + rollup producing the five Gram sums
        // (a11, a12, a22, b1, b2) per entity, then a map-only exact
        // solve. Exactness: factors are e6 longs; Gram sums use the
        // rank-1 per-term div-1e6 truncation (deterministic under any
        // partitioning); Cramer's determinant/numerators clear into
        // DECIMAL(38,0) (the ml_target_encode discipline — n ≤ ~10²⁶,
        // n·1e6 ≤ ~10³² « 10³⁸) and ONE integral division lands the
        // factor back in e6 longs. Symmetry breaking: v₂ init is a
        // Knuth multiplicative-hash spread in [−1e6, 1e6] (identical
        // init columns would make every normal matrix singular and
        // collapse the factorization to rank-1 twice); replayable with
        // exact integer arithmetic in any engine. det ≤ 0 cannot occur
        // while Gram truncation error « λ² (real det ≥ λ·tr(A)+λ² > 0);
        // the clamped-to-1 twin keeps both engines defined-and-identical
        // even then (the KW degenerate convention). Signed integral
        // division is safe cross-engine: Spark `div` and DuckDB `//`
        // both truncate toward zero (verified: −7÷2 → −3 in both).
        // Scale: identical shuffle shape to rank-1 — factor frames keyed
        // by entity only, eval slice broadcast, bounded top-k winners.
        val d = "decimal(38,0)"
        // pre-partitioned ratings copies (p-keyed and c-keyed) — the ALS
        // block layout, see recs_als_rank1 (optimization r14): each gram
        // rollup joins its factor frame without re-shuffling the ratings.
        // r15: ratingsP and the half-step checkpoints are LAZY (action
        // fusion, see recs_als_rank1); ratingsC stays the eager anchor.
        val ratingsP = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
          .join(t(s, dir, "orders").select(col("o_orderkey"),
            col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey").as("c"), col("l_partkey").as("p"))
          .agg(sum(col("l_quantity").cast("long")).as("r"))
          .repartition(col("p"))
          .localCheckpoint(false)
        val ratingsC = ratingsP.repartition(col("c"))
          .localCheckpoint(true)
        val ratings = ratingsC
        // closed-form 2×2 solve: (f1, f2) from the five Gram sums
        def cramer(keyCol: String): Seq[Column] = Seq(
          col(keyCol),
          expr(s"cast((cast(b1 as $d) * cast(a22l as $d)" +
            s" - cast(b2 as $d) * cast(a12 as $d)) * 1000000 div" +
            s" greatest(cast(a11l as $d) * cast(a22l as $d)" +
            s" - cast(a12 as $d) * cast(a12 as $d), cast(1 as $d))" +
            s" as long)").as("f1"),
          expr(s"cast((cast(b2 as $d) * cast(a11l as $d)" +
            s" - cast(b1 as $d) * cast(a12 as $d)) * 1000000 div" +
            s" greatest(cast(a11l as $d) * cast(a22l as $d)" +
            s" - cast(a12 as $d) * cast(a12 as $d), cast(1 as $d))" +
            s" as long)").as("f2"))
        def gram(df: DataFrame, joinKey: String, outKey: String) =
          (if (joinKey == "p") ratingsP else ratingsC)
            .join(df.withColumnRenamed("f1", "g1")
              .withColumnRenamed("f2", "g2"), Seq(joinKey))
            .groupBy(outKey)
            .agg(sum(expr("g1 * g1 div 1000000")).as("a11"),
              sum(expr("g1 * g2 div 1000000")).as("a12"),
              sum(expr("g2 * g2 div 1000000")).as("a22"),
              sum(col("r") * col("g1")).as("b1"),
              sum(col("r") * col("g2")).as("b2"))
            .withColumn("a11l", col("a11") + lam)
            .withColumn("a22l", col("a22") + lam)
            .select(cramer(outKey): _*)
            .localCheckpoint(false) // next half-step + scoring read it
            // (lazy: action fusion, see recs_als_rank1 — r15)
        var v = ratingsP.select("p").distinct()
          .withColumn("f1", lit(1000000L))
          .withColumn("f2",
            expr("(p * 2654435761) % 2000001 - 1000000"))
        var u: DataFrame = null
        for (_ <- 1 to rounds) {
          u = gram(v, "p", "c")
          v = gram(u, "c", "p")
        }
        // scoring: same 100 TB shape as rank-1 — eval slice broadcast,
        // anti-join right side pruned first, per-customer top-3 from
        // the bounded top-k aggregate. score may be NEGATIVE at rank 2
        // (signed second factor): the score·2³¹ − p pack stays order-
        // preserving for signed scores while |score_e6| < 2³² — guarded
        val uE = u.withColumnRenamed("f1", "u1")
          .withColumnRenamed("f2", "u2")
        val vE = v.withColumnRenamed("f1", "v1")
          .withColumnRenamed("f2", "v2")
        val evalBought = ratings.filter(col("c") <= 20).select("c", "p")
        val uEval = uE.filter(col("c") <= 20)
        val scoreE = expr(s"cast((cast(u1 as $d) * cast(v1 as $d)" +
          s" + cast(u2 as $d) * cast(v2 as $d)) div 1000000 as long)")
        val pb = 1L << 31
        val ord = when(abs(col("score_e6")) >= lit(Long.MaxValue / pb) ||
            col("p") >= lit(pb) || col("p") < 0,
            raise_error(concat(lit("als2 top-k pack out of range: p="),
              col("p"), lit(" score_e6="), col("score_e6"))).cast("long"))
          .otherwise(col("score_e6") * lit(pb) - col("p"))
        val winners = vE.crossJoin(broadcast(uEval))
          .withColumn("score_e6", scoreE)
          .join(broadcast(evalBought), Seq("c", "p"), "left_anti")
          .groupBy("c")
          .agg(graft.expressions.TopKBy.top_k_by(ord, col("p"), 3)
            .as("top"))
          .select(col("c"), posexplode(col("top")).as(Seq("pos", "p")))
          .select(col("c"), col("p"), (col("pos") + 1).cast("int")
            .as("rank"))
        vE.join(broadcast(winners), Seq("p"))
          .join(broadcast(uEval), Seq("c"))
          .withColumn("score_e6", scoreE)
          .select(col("c").as("o_custkey"), col("p").as("l_partkey"),
            col("score_e6"), col("rank"))
      }, {
        // Oracle for `recs_als_rank2`: the unrolled rank-2 alternation —
        // same ratings rollup, the Knuth multiplicative-hash f2 init, the
        // five per-entity Gram sums with the per-term //1e6 truncation,
        // and the Cramer 2×2 solve in HUGEINT (Spark mirrors it in
        // DECIMAL(38,0); both `div` and `//` truncate toward zero, so the
        // signed factor arithmetic is engine-identical).
        val sb = new StringBuilder
        sb.append(
          """WITH ratings AS MATERIALIZED (
            |  SELECT o.o_custkey AS c, l.l_partkey AS p,
            |    sum(CAST(l.l_quantity AS BIGINT))::BIGINT AS r
            |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
            |  GROUP BY 1, 2),
            |v0 AS (SELECT DISTINCT p, 1000000::BIGINT AS f1,
            |  ((p * 2654435761) % 2000001 - 1000000)::BIGINT AS f2
            |  FROM ratings),
            |""".stripMargin)
        def cramer = Seq("f1" -> ("b1", "a22l", "b2"),
          "f2" -> ("b2", "a11l", "b1")).map { case (f, (bx, ax, by)) =>
          s"""    ((($bx::HUGEINT * $ax::HUGEINT - $by::HUGEINT
             |      * a12::HUGEINT) * 1000000)
             |      // greatest(a11l::HUGEINT * a22l::HUGEINT
             |      - a12::HUGEINT * a12::HUGEINT, 1::HUGEINT))::BIGINT
             |      AS $f""".stripMargin
        }.mkString(",\n")
        def half(outCte: String, inCte: String, joinKey: String,
                 outKey: String): String =
          s"""${outCte}g AS MATERIALIZED (
             |  SELECT r.$outKey AS k,
             |    (sum((x.f1 * x.f1) // 1000000) + $lam)::BIGINT AS a11l,
             |    sum((x.f1 * x.f2) // 1000000)::BIGINT AS a12,
             |    (sum((x.f2 * x.f2) // 1000000) + $lam)::BIGINT AS a22l,
             |    sum(r.r * x.f1)::BIGINT AS b1,
             |    sum(r.r * x.f2)::BIGINT AS b2
             |  FROM ratings r JOIN $inCte x ON x.$joinKey = r.$joinKey
             |  GROUP BY 1),
             |$outCte AS MATERIALIZED (
             |  SELECT k AS $outKey,
             |$cramer
             |  FROM ${outCte}g),
             |""".stripMargin
        for (rd <- 1 to rounds) {
          sb.append(half(s"u$rd", s"v${rd - 1}", "p", "c"))
          sb.append(half(s"v$rd", s"u$rd", "c", "p"))
        }
        sb.append(
          s"""scored AS (
             |  SELECT u.c, v.p,
             |    ((u.f1::HUGEINT * v.f1::HUGEINT
             |      + u.f2::HUGEINT * v.f2::HUGEINT) // 1000000)::BIGINT
             |      AS score_e6
             |  FROM u$rounds u CROSS JOIN v$rounds v
             |  WHERE u.c <= 20
             |    AND NOT EXISTS (SELECT 1 FROM ratings x
             |      WHERE x.c = u.c AND x.p = v.p)),
             |ranked AS (
             |  SELECT c, p, score_e6,
             |    row_number() OVER (PARTITION BY c
             |      ORDER BY score_e6 DESC, p ASC)::INT AS rank
             |  FROM scored)
             |SELECT c AS o_custkey, p AS l_partkey, score_e6, rank
             |FROM ranked WHERE rank <= 3""".stripMargin)
        sb.toString
      })
    },

    locally {
      val (rounds, lam) = (2, 100L) // λ = 0.1 in e3
      QueryDef("recs_als_rank4", (s, dir) => {
        // rank-4 ALS (VERDICT r11 #8 / r12 #7 stretch): the rank-2
        // Cramer machinery generalized — each alternation is ONE join +
        // rollup producing the 14 per-entity Gram/moment sums (10
        // symmetric 4×4 entries + 4 rhs), then a map-only exact Cramer
        // solve whose five 4×4 determinants are the SAME
        // OracleSql.det4-generated Leibniz expression both engines run
        // (DECIMAL(38,0) here, HUGEINT in DuckDB; both `div`/`//`
        // truncate toward zero — verified). Factors are e3 longs, NOT
        // e6: a 4-entry determinant product scales as |entry|⁴ and the
        // numerator·1e3 must stay inside 38 digits — at the measured
        // density (≤105 ratings/entity, r ≤ 98, |f| ≈ 8e3 at
        // convergence) num·1e3 ≈ 6e32 with ~1e5 headroom. The Gram
        // magnitudes are guarded LOUDLY (raise_error past |a|≥1e8 /
        // |b|≥2e9, where the determinant bound 24·|b|·|a|³·1e3 ≈ 5e34
        // still clears 1e38) — the events_ar2 loud-margin discipline.
        // Init symmetry breaking: f2..f4 are three distinct public
        // multiplicative-hash spreads (Knuth 2654435761; xxhash32
        // primes 2246822519, 3266489917) in [−1000, 1000]. Scale shape
        // identical to rank-1/2: factor frames keyed by entity only,
        // eval slice broadcast, bounded top-k winners, zero collects.
        val d = "decimal(38,0)"
        // pre-partitioned ratings copies (p-keyed and c-keyed) — the ALS
        // block layout, see recs_als_rank1 (optimization r14).
        // r15: ratingsP and the half-step checkpoints are LAZY (action
        // fusion, see recs_als_rank1); ratingsC stays the eager anchor.
        val ratingsP = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
          .join(t(s, dir, "orders").select(col("o_orderkey"),
            col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey").as("c"), col("l_partkey").as("p"))
          .agg(sum(col("l_quantity").cast("long")).as("r"))
          .repartition(col("p"))
          .localCheckpoint(false)
        val ratingsC = ratingsP.repartition(col("c"))
          .localCheckpoint(true)
        val ratings = ratingsC
        def mA(i: Int, j: Int) =
          s"cast(${OracleSql.gram4Name(i, j)} as $d)"
        // r15: the Spark side evaluates the determinants in the
        // complementary-2×2-minor form (det4Minors — identical values,
        // 30 decimal multiplies vs 72 and a codegen-CSE-able tree); the
        // oracle keeps the Leibniz text, so the hash gate pins equality.
        val detSql = OracleSql.det4Minors(mA)
        val guard = "greatest(" +
          (for (i <- 1 to 4; j <- i to 4)
            yield s"abs(${OracleSql.gram4Name(i - 1, j - 1)})")
            .mkString(", ") + ") >= 100000000 OR greatest(" +
          (1 to 4).map(i => s"abs(b$i)").mkString(", ") + ") >= 2000000000"
        def fCol(k: Int): Column = {
          val num = OracleSql.det4Minors((i, j) =>
            if (j == k) s"cast(b${i + 1} as $d)" else mA(i, j))
          // `gdet`/`gbad` are staged once per row (withColumn below):
          // without the staging each of the four factor columns
          // re-evaluated the full 24-term determinant and the 14-entry
          // guard — ~40% of the query's decimal work, measured
          val solve = s"cast((($num) * 1000 div" +
            s" greatest(gdet, cast(1 as $d))) as long)"
          when(col("gbad"),
            raise_error(concat(lit("als4 gram out of range: "),
              col("a11l"), lit(" "), col("b1"))).cast("long"))
            .otherwise(expr(solve)).as(s"f${k + 1}")
        }
        def gram4(df: DataFrame, joinKey: String, outKey: String) = {
          val renamed = (1 to 4).foldLeft(df)((acc, i) =>
            acc.withColumnRenamed(s"f$i", s"g$i"))
          (if (joinKey == "p") ratingsP else ratingsC)
            .join(renamed, Seq(joinKey))
            .groupBy(outKey)
            .agg(
              (for (i <- 1 to 4; j <- i to 4) yield
                sum(expr(s"g$i * g$j div 1000"))
                  .as(s"a$i$j")).head,
              ((for (i <- 1 to 4; j <- i to 4) yield
                sum(expr(s"g$i * g$j div 1000")).as(s"a$i$j")).tail ++
                (1 to 4).map(i =>
                  sum(col("r") * col(s"g$i")).as(s"b$i"))): _*)
            .withColumn("a11l", col("a11") + lam)
            .withColumn("a22l", col("a22") + lam)
            .withColumn("a33l", col("a33") + lam)
            .withColumn("a44l", col("a44") + lam)
            .withColumn("gdet", expr(detSql))
            .withColumn("gbad", expr(guard))
            .select(Seq(col(outKey)) ++ (0 until 4).map(fCol): _*)
            // Wrap-precondition guard (ADVICE r13): the NEXT half-step's
            // Gram products g_i*g_j are raw long multiplies that wrap
            // silently in non-ANSI Spark, and a wrapped sum can land back
            // inside gbad's range and diverge from the HUGEINT oracle
            // without raising. Guard the factor magnitude itself:
            // |f| < 3e9 ⇒ |g_i*g_j| < 9e18 < 2^63, so the product cannot
            // wrap. One abs-compare per factor row, checked where the
            // factor is PRODUCED, not where its wrap would surface.
            .select(col(outKey) +: (1 to 4).map { i =>
              when(abs(col(s"f$i")) >= lit(3000000000L),
                raise_error(concat(lit(s"als4 factor f$i out of range: "),
                  col(s"f$i"))).cast("long"))
                .otherwise(col(s"f$i")).as(s"f$i")
            }: _*)
            .localCheckpoint(false) // next half-step + scoring read it
            // (lazy: action fusion, see recs_als_rank1 — r15)
        }
        var v = ratingsP.select("p").distinct()
          .withColumn("f1", lit(1000L))
          .withColumn("f2", expr("(p * 2654435761) % 2001 - 1000"))
          .withColumn("f3", expr("(p * 2246822519) % 2001 - 1000"))
          .withColumn("f4", expr("(p * 3266489917) % 2001 - 1000"))
        var u: DataFrame = null
        for (_ <- 1 to rounds) {
          u = gram4(v, "p", "c")
          v = gram4(u, "c", "p")
        }
        val uE = (1 to 4).foldLeft(u)((acc, i) =>
          acc.withColumnRenamed(s"f$i", s"u$i"))
        val vE = (1 to 4).foldLeft(v)((acc, i) =>
          acc.withColumnRenamed(s"f$i", s"v$i"))
        val evalBought = ratings.filter(col("c") <= 20).select("c", "p")
        val uEval = uE.filter(col("c") <= 20)
        val scoreE = expr("cast((" +
          (1 to 4).map(i => s"cast(u$i as $d) * cast(v$i as $d)")
            .mkString(" + ") + ") div 1000 as long)")
        val pb = 1L << 31
        val ord = when(abs(col("score_e3")) >= lit(Long.MaxValue / pb) ||
            col("p") >= lit(pb) || col("p") < 0,
            raise_error(concat(lit("als4 top-k pack out of range: p="),
              col("p"), lit(" score_e3="), col("score_e3"))).cast("long"))
          .otherwise(col("score_e3") * lit(pb) - col("p"))
        val winners = vE.crossJoin(broadcast(uEval))
          .withColumn("score_e3", scoreE)
          .join(broadcast(evalBought), Seq("c", "p"), "left_anti")
          .groupBy("c")
          .agg(graft.expressions.TopKBy.top_k_by(ord, col("p"), 3)
            .as("top"))
          .select(col("c"), posexplode(col("top")).as(Seq("pos", "p")))
          .select(col("c"), col("p"), (col("pos") + 1).cast("int")
            .as("rank"))
        vE.join(broadcast(winners), Seq("p"))
          .join(broadcast(uEval), Seq("c"))
          .withColumn("score_e3", scoreE)
          .select(col("c").as("o_custkey"), col("p").as("l_partkey"),
            col("score_e3"), col("rank"))
      }, {
        // Oracle for `recs_als_rank4` (VERDICT r11 #8 / r12 #7): the
        // rank-2 Cramer machinery generalized — per-entity 4×4 ridge
        // normal-equation solve via Cramer's rule with [[det4]]-generated
        // determinants, replayed in HUGEINT. Factors are e3 longs (e6
        // would push the 4-entry determinant products past DECIMAL(38,0) /
        // HUGEINT — the scale is chosen so |num·1e3| stays ≤ ~1e35 at the
        // measured per-entity density with ~10× headroom; the engine side
        // guards the Gram magnitudes loudly). Init: f1 = 1e3, f2..f4 are
        // three distinct public multiplicative-hash spreads in
        // [−1000, 1000] (Knuth 2654435761; xxhash32 primes 2246822519,
        // 3266489917) — identical integer init in both engines.
        val sb = new StringBuilder
        sb.append(
          """WITH ratings AS MATERIALIZED (
            |  SELECT o.o_custkey AS c, l.l_partkey AS p,
            |    sum(CAST(l.l_quantity AS BIGINT))::BIGINT AS r
            |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
            |  GROUP BY 1, 2),
            |v0 AS (SELECT DISTINCT p, 1000::BIGINT AS f1,
            |  ((p * 2654435761) % 2001 - 1000)::BIGINT AS f2,
            |  ((p * 2246822519) % 2001 - 1000)::BIGINT AS f3,
            |  ((p * 3266489917) % 2001 - 1000)::BIGINT AS f4
            |  FROM ratings),
            |""".stripMargin)
        def mA(i: Int, j: Int) = s"${gram4Name(i, j)}::HUGEINT"
        val detSql = det4(mA)
        val cramer = (0 until 4).map { k =>
          val num = det4((i, j) => if (j == k) s"b${i + 1}::HUGEINT"
            else mA(i, j))
          s"""    ((($num) * 1000)
             |      // greatest(($detSql), 1::HUGEINT))::BIGINT
             |      AS f${k + 1}""".stripMargin
        }.mkString(",\n")
        val gramSums = (for (i <- 1 to 4; j <- i to 4) yield
          if (i == j)
            s"(sum((x.f$i * x.f$j) // 1000) + $lam)::BIGINT AS a$i${j}l"
          else s"sum((x.f$i * x.f$j) // 1000)::BIGINT AS a$i$j")
          .mkString(",\n    ")
        val bSums = (1 to 4).map(i =>
          s"sum(r.r * x.f$i)::BIGINT AS b$i").mkString(",\n    ")
        def half(outCte: String, inCte: String, joinKey: String,
                 outKey: String): String =
          s"""${outCte}g AS MATERIALIZED (
             |  SELECT r.$outKey AS k,
             |    $gramSums,
             |    $bSums
             |  FROM ratings r JOIN $inCte x ON x.$joinKey = r.$joinKey
             |  GROUP BY 1),
             |$outCte AS MATERIALIZED (
             |  SELECT k AS $outKey,
             |$cramer
             |  FROM ${outCte}g),
             |""".stripMargin
        for (rd <- 1 to rounds) {
          sb.append(half(s"u$rd", s"v${rd - 1}", "p", "c"))
          sb.append(half(s"v$rd", s"u$rd", "c", "p"))
        }
        val dot = (1 to 4).map(i => s"u.f$i::HUGEINT * v.f$i::HUGEINT")
          .mkString(" + ")
        sb.append(
          s"""scored AS (
             |  SELECT u.c, v.p,
             |    (($dot) // 1000)::BIGINT AS score_e3
             |  FROM u$rounds u CROSS JOIN v$rounds v
             |  WHERE u.c <= 20
             |    AND NOT EXISTS (SELECT 1 FROM ratings x
             |      WHERE x.c = u.c AND x.p = v.p)),
             |ranked AS (
             |  SELECT c, p, score_e3,
             |    row_number() OVER (PARTITION BY c
             |      ORDER BY score_e3 DESC, p ASC)::INT AS rank
             |  FROM scored)
             |SELECT c AS o_custkey, p AS l_partkey, score_e3, rank
             |FROM ranked WHERE rank <= 3""".stripMargin)
        sb.toString
      })
    },

    QueryDef("ml_mrmr_features", (s, dir) => {
      // mRMR feature selection (Peng et al. 2005) — greedy
      // max-relevance-min-redundancy over MUTUAL INFORMATION, the
      // information-theoretic ranking that corr-matrix selection
      // (profile_correlations) can't do for categorical features.
      // All 10 pairwise MI values (4 features × label + 6 feature
      // pairs) come from ONE shuffle: rows explode into (pair, av,
      // bv) triples, one rollup makes the cells, broadcast marginals
      // close the 2-D tables, each cell's term touches doubles once
      // (one ln via floor(x·1e9+0.5) — bit-identical on identical
      // doubles) and MI is a LONG sum over cells. The greedy rounds
      // compare rel·|S| − Σred (integer-scaled mRMR quotient — same
      // argmax, no division), tie-break by feature id. Scale: cells
      // are bin²-bounded; the explode is a constant ×10 map-side
      // factor, never a second shuffle.
      val feats = t(s, dir, "lineitem")
        .select(
          least(expr("cast(l_quantity as long) div 10"), lit(4L))
            .as("f1"),
          least(expr("floor(l_extendedprice) div 20000"), lit(4L))
            .as("f2"),
          least(expr("floor(l_discount * 100) div 3"), lit(3L))
            .as("f3"),
          expr("cast(month(l_shipdate) as long) div 4").as("f4"),
          (col("l_returnflag") === "R").cast("long").as("y"))
      val pairDefs = Seq(
        ("p1y", "f1", "y"), ("p2y", "f2", "y"), ("p3y", "f3", "y"),
        ("p4y", "f4", "y"), ("p12", "f1", "f2"), ("p13", "f1", "f3"),
        ("p14", "f1", "f4"), ("p23", "f2", "f3"), ("p24", "f2", "f4"),
        ("p34", "f3", "f4"))
      // OPTIMIZATION r14 (guide §2.3 — aggregate before the fan-out):
      // the ×10 pair explode used to run per ROW (10 hash-agg updates
      // per fact row); the joint (f1..f4, y) distribution is at most
      // 5·5·4·3·2 = 600 cells, so ONE pass aggregates the tuple counts
      // and the pair explode + re-sum runs on the 600-row frame. Cell
      // counts are identical (sum of joint counts over the dropped
      // coordinates = the old direct pair count).
      val joint = feats.groupBy("f1", "f2", "f3", "f4", "y")
        .agg(count(lit(1)).as("nj"))
      val exploded = joint.select(explode(array(pairDefs.map {
        case (pid, a, b) =>
          struct(lit(pid).as("pid"), col(a).as("av"), col(b).as("bv"))
      }: _*)).as("e"), col("nj"))
        .select(col("e.pid"), col("e.av"), col("e.bv"), col("nj"))
      val cells = exploded.groupBy("pid", "av", "bv")
        .agg(sum("nj").as("nab"))
        .localCheckpoint(true) // marginals + terms read it
      val ma = cells.groupBy("pid", "av").agg(sum("nab").as("na"))
      val mb = cells.groupBy("pid", "bv").agg(sum("nab").as("nb"))
      val nn = cells.groupBy("pid").agg(sum("nab").as("n"))
      val mi = cells
        .join(broadcast(ma), Seq("pid", "av"))
        .join(broadcast(mb), Seq("pid", "bv"))
        .join(broadcast(nn), Seq("pid"))
        .withColumn("term_e9", floor(
          (col("nab").cast("double") / col("n").cast("double")) *
            log((col("nab").cast("double") * col("n").cast("double")) /
              (col("na").cast("double") * col("nb").cast("double"))) *
            1000000000.0 + 0.5))
        .groupBy("pid").agg(sum("term_e9").as("mi_e9"))
        .localCheckpoint(true) // greedy rounds read it repeatedly
      val rel = mi.filter(col("pid").endsWith("y"))
        .select(substring(col("pid"), 2, 1).cast("long").as("fid"),
          col("mi_e9").as("rel_e9"))
      val red = mi.filter(!col("pid").endsWith("y"))
        .select(substring(col("pid"), 2, 1).cast("long").as("fa"),
          substring(col("pid"), 3, 1).cast("long").as("fb"),
          col("mi_e9").as("red_e9"))
      val redSym = red.unionByName(red.select(col("fb").as("fa"),
        col("fa").as("fb"), col("red_e9")))
      var selected = rel
        .orderBy(col("rel_e9").desc, col("fid").asc).limit(1)
        .select(col("fid"), lit(1L).as("rank"),
          col("rel_e9"), col("rel_e9").as("score_scaled"))
      for (r <- 2 to 3) {
        val sel = selected.select(col("fid").as("sid"))
        val cand = rel.join(sel, col("fid") === col("sid"), "left_anti")
          .join(redSym, col("fid") === col("fa"))
          .join(sel.withColumnRenamed("sid", "sb"),
            col("fb") === col("sb"))
          .groupBy("fid", "rel_e9")
          .agg(sum("red_e9").as("sum_red"), count(lit(1)).as("ns"))
          .select(col("fid"), col("rel_e9"),
            (col("rel_e9") * col("ns") - col("sum_red"))
              .as("score_scaled"))
        val pick = cand
          .orderBy(col("score_scaled").desc, col("fid").asc).limit(1)
          .select(col("fid"), lit(r.toLong).as("rank"), col("rel_e9"),
            col("score_scaled"))
        selected = selected.unionByName(pick)
      }
      selected.select("rank", "fid", "rel_e9", "score_scaled")
    }, {
      val pairDefs = Seq(
        ("p1y", "f1", "y"), ("p2y", "f2", "y"), ("p3y", "f3", "y"),
        ("p4y", "f4", "y"), ("p12", "f1", "f2"), ("p13", "f1", "f3"),
        ("p14", "f1", "f4"), ("p23", "f2", "f3"), ("p24", "f2", "f4"),
        ("p34", "f3", "f4"))
      val ex = pairDefs.map { case (pid, a, b) =>
        s"SELECT '$pid' AS pid, $a AS av, $b AS bv FROM feats"
      }.mkString("\n  UNION ALL ")
      s"""WITH feats AS MATERIALIZED (
         |  SELECT least(CAST(l_quantity AS BIGINT) // 10, 4) AS f1,
         |    least(floor(l_extendedprice)::BIGINT // 20000, 4) AS f2,
         |    least(floor(l_discount * 100)::BIGINT // 3, 3) AS f3,
         |    CAST(month(l_shipdate::DATE) AS BIGINT) // 4 AS f4,
         |    (l_returnflag = 'R')::BIGINT AS y
         |  FROM lineitem),
         |ex AS ($ex),
         |cells AS MATERIALIZED (
         |  SELECT pid, av, bv, count(*)::BIGINT AS nab
         |  FROM ex GROUP BY 1, 2, 3),
         |ma AS (SELECT pid, av, sum(nab)::BIGINT AS na
         |  FROM cells GROUP BY 1, 2),
         |mb AS (SELECT pid, bv, sum(nab)::BIGINT AS nb
         |  FROM cells GROUP BY 1, 2),
         |nn AS (SELECT pid, sum(nab)::BIGINT AS n
         |  FROM cells GROUP BY 1),
         |mi AS MATERIALIZED (
         |  SELECT c.pid,
         |    sum(floor((c.nab::DOUBLE / nn.n::DOUBLE)
         |      * ln((c.nab::DOUBLE * nn.n::DOUBLE)
         |        / (ma.na::DOUBLE * mb.nb::DOUBLE))
         |      * 1000000000.0 + 0.5)::BIGINT)::BIGINT AS mi_e9
         |  FROM cells c
         |  JOIN ma ON ma.pid = c.pid AND ma.av = c.av
         |  JOIN mb ON mb.pid = c.pid AND mb.bv = c.bv
         |  JOIN nn ON nn.pid = c.pid
         |  GROUP BY 1),
         |rel AS MATERIALIZED (
         |  SELECT CAST(substr(pid, 2, 1) AS BIGINT) AS fid,
         |    mi_e9 AS rel_e9
         |  FROM mi WHERE pid LIKE '%y'),
         |red AS (
         |  SELECT CAST(substr(pid, 2, 1) AS BIGINT) AS fa,
         |    CAST(substr(pid, 3, 1) AS BIGINT) AS fb,
         |    mi_e9 AS red_e9
         |  FROM mi WHERE pid NOT LIKE '%y'),
         |redsym AS MATERIALIZED (
         |  SELECT fa, fb, red_e9 FROM red
         |  UNION ALL SELECT fb, fa, red_e9 FROM red),
         |sel1 AS MATERIALIZED (
         |  SELECT fid, 1::BIGINT AS rank, rel_e9,
         |    rel_e9 AS score_scaled
         |  FROM rel ORDER BY rel_e9 DESC, fid ASC LIMIT 1),
         |cand2 AS (
         |  SELECT r.fid, r.rel_e9,
         |    (r.rel_e9 * count(*) - sum(rs.red_e9))::BIGINT
         |      AS score_scaled
         |  FROM rel r JOIN redsym rs ON rs.fa = r.fid
         |  JOIN (SELECT fid FROM sel1) s ON rs.fb = s.fid
         |  WHERE r.fid NOT IN (SELECT fid FROM sel1)
         |  GROUP BY r.fid, r.rel_e9),
         |sel2 AS MATERIALIZED (
         |  SELECT fid, 2::BIGINT AS rank, rel_e9, score_scaled
         |  FROM cand2 ORDER BY score_scaled DESC, fid ASC LIMIT 1),
         |sel12 AS (SELECT fid FROM sel1 UNION ALL
         |  SELECT fid FROM sel2),
         |cand3 AS (
         |  SELECT r.fid, r.rel_e9,
         |    (r.rel_e9 * count(*) - sum(rs.red_e9))::BIGINT
         |      AS score_scaled
         |  FROM rel r JOIN redsym rs ON rs.fa = r.fid
         |  JOIN sel12 s ON rs.fb = s.fid
         |  WHERE r.fid NOT IN (SELECT fid FROM sel12)
         |  GROUP BY r.fid, r.rel_e9),
         |sel3 AS MATERIALIZED (
         |  SELECT fid, 3::BIGINT AS rank, rel_e9, score_scaled
         |  FROM cand3 ORDER BY score_scaled DESC, fid ASC LIMIT 1)
         |SELECT rank, fid, rel_e9, score_scaled FROM (
         |  SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
         |  UNION ALL SELECT * FROM sel3)""".stripMargin
    })
  )
}
