package graft.queries

import org.apache.spark.ml.feature.Bucketizer
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.T.{Q, t}
import graft.ml.SupervisedDiscretizer

/** SURVEY.md §2.9 — the reference's own surface: CAIM discretization
  * dataflow stages (Kurgan & Cios, IEEE TKDE 16(2), 2004), each exposed as a
  * declared query over `embeddings` with feature = CAST(embedding[1] AS
  * DOUBLE) and class = label. The full greedy fit lives in
  * [[graft.ml.CAIMDiscretizer]] (capability row, golden/property-tested).
  */
object Caim {

  /** Literal splits for the transform demo (within the embedding[0] range). */
  private val demoSplits = Array(-0.2, 0.0, 0.2)

  /** A supervised discretizer fitted on f1..f4 = embedding[1..4] against
    * `label` (every estimator's default label column), as
    * (feature, bin_idx, boundary) rows with boundaries rounded to 6 dp. */
  private def boundaryRows(est: SupervisedDiscretizer): Q = (s, sf) => {
    import s.implicits._
    val names = (1 to 4).map(i => s"f$i").toArray
    val df = t(s, sf, "embeddings").select(
      (1 to 4).map(i => element_at(col("embedding"), i).cast("double").as(s"f$i")) :+
        col("label"): _*)
    val model = est.fit(df,
      ParamMap(est.inputCols -> names, est.outputCols -> names.map("b" + _)))
    model.boundaries.zipWithIndex.flatMap { case (bs, fi) =>
      bs.zipWithIndex.map { case (b, bi) => (names(fi), bi.toLong, b) }
    }.toSeq.toDF("feature", "bin_idx", "boundary")
      .withColumn("boundary", round(col("boundary"), 6))
      .orderBy("feature", "bin_idx")
  }

  val queries: Map[String, Q] = Map(
    // Alg. step 1: midpoints between consecutive distinct feature values.
    // Distributed lag: range-partition on v, per-partition lag in parallel,
    // and stitch partition boundaries by joining each partition's first row
    // with the max of all previous partitions (a triangular self-join over
    // the ≤ #partitions per-partition maxima) — no single-partition
    // exchange at any scale.
    "caim_candidates" -> ((s, sf) => {
      import org.apache.spark.sql.expressions.Window
      // persist pins the range partitioning (and therefore pid) so the two
      // consumers below are guaranteed the SAME partition boundaries — not
      // merely likely-identical via exchange reuse (RangePartitioner
      // sampling is seeded per RDD, so recomputation could diverge).
      val d = t(s, sf, "embeddings")
        .select(element_at(col("embedding"), 1).cast("double").as("v")).distinct()
        .repartitionByRange(col("v"))
        .withColumn("pid", spark_partition_id())
        .persist()
      val wp = Window.partitionBy("pid").orderBy("v")
      val withPrev = d.withColumn("prev", lag("v", 1).over(wp))
      // boundary stitch over the tiny per-partition summary (≤ #partitions
      // rows): prevmax via a triangular self-join instead of an
      // unpartitioned running-max window — no single-partition exchange
      // anywhere in the plan, at any scale.
      val pm = d.groupBy("pid").agg(max("v").as("pm"))
      val bounds = pm.as("x").join(pm.as("y"), col("y.pid") < col("x.pid"))
        .groupBy(col("x.pid").as("pid")).agg(max(col("y.pm")).as("prevmax"))
      withPrev.join(broadcast(bounds), Seq("pid"), "left")
        .withColumn("pv", coalesce(col("prev"), col("prevmax")))
        .filter(col("pv").isNotNull)
        .select(((col("pv") + col("v")) / 2).as("cand"))
        .orderBy("cand")
    }),

    // Quanta matrix over a fixed 20-bin grid: counts per (label, interval)
    "caim_quanta" -> ((s, sf) => quanta(s, sf).orderBy("label", "bin")),

    // CAIM criterion of that fixed scheme: (Σ_r max_r²/M_r) / n
    "caim_criterion" -> ((s, sf) => quanta(s, sf).groupBy("bin")
      .agg(max("cnt").as("mx"), sum("cnt").as("tot"))
      .agg(count(lit(1)).as("n_bins"),
        round(sum(col("mx") * col("mx") / col("tot").cast("double")) / count(lit(1)), 6)
          .as("caim"))),

    // Model.transform with literal splits (Bucketizer bin assignment —
    // narrow, no shuffle: exactly how the fitted model scales)
    "caim_transform" -> ((s, sf) => {
      val e = t(s, sf, "embeddings")
        .select(col("vec_id"), element_at(col("embedding"), 1).cast("double").as("v"))
      val buck = new Bucketizer().setInputCol("v").setOutputCol("bin")
        .setSplits(Double.NegativeInfinity +: demoSplits :+ Double.PositiveInfinity)
      buck.transform(e)
        .select(col("vec_id"), col("bin").cast("long").as("bin"))
        .orderBy("vec_id")
    }),

    // The four supervised fits as DECLARED rows-only queries: four
    // features (embedding[1..4]) + label through each MLlib estimator,
    // emitted as (feature, bin_idx, boundary) rows. Every fit is
    // deterministic — exact integer histogram, exact driver search over
    // prefix sums — so the rows are stable run-to-run. None of the
    // searches is SQL-expressible, so none has an oracle entry; the specs
    // pin the fit semantics instead:
    //  - caim_fit: the full greedy CAIM fit (Kurgan–Cios Alg. steps 2–4,
    //    round 7); CaimSpec's golden/property/save-load suites.
    //  - disc_ameva: Ameva (round 11), χ²/k(ℓ−1) over the same greedy
    //    loop; AmevaSpec's exact equality vs an independent from-scratch
    //    chi-square greedy.
    //  - disc_chimerge: ChiMerge (round 12), the BOTTOM-UP member —
    //    adjacent intervals merge while their 2×S chi-square stays below
    //    the df = S−1 critical value at alpha = 0.05; ChiMergeSpec's
    //    independent reference merge plus the significance stop law.
    //  - disc_mdlp: MDLP (round 11), Fayyad–Irani 1993, the CAIM paper's
    //    own benchmark comparison; MdlpSpec's golden boundaries,
    //    MDL-rejection, purity no-ops and partitioning invariance.
    // All four share [[graft.ml.SupervisedHistogram]] (one source scan
    // when the histogram fits its bounded collect) and the
    // Bucketizer-backed model class.
    "caim_fit" -> boundaryRows(new graft.ml.CAIMDiscretizer()),
    "disc_ameva" -> boundaryRows(new graft.ml.AmevaDiscretizer()),
    "disc_chimerge" -> boundaryRows(new graft.ml.ChiMergeDiscretizer()),
    "disc_mdlp" -> boundaryRows(new graft.ml.MDLPDiscretizer()),

    // unsupervised equal-width baseline
    "disc_equal_width" -> ((s, sf) => {
      val e = t(s, sf, "embeddings")
        .select(col("vec_id"), element_at(col("embedding"), 1).cast("double").as("v"))
      val stats = e.agg(min("v").as("lo"), max("v").as("hi"))
      e.crossJoin(broadcast(stats))
        .select(col("vec_id"), widthBin(col("v"), col("lo"), col("hi"), 10).as("bin"))
        .orderBy("vec_id")
    }),

    // unsupervised equal-frequency baseline (deterministic ntile).
    // Distributed exact ntile: range-partition on the sort key, per-
    // partition row_number in parallel, global rank = partition offset +
    // local rank (offsets are a prefix sum over ≤ #partitions counts), then
    // ntile's bucket formula applied to the exact rank — identical output
    // to a global ntile(8) with no full-data single-partition window.
    "disc_equal_freq" -> ((s, sf) => {
      import org.apache.spark.sql.expressions.Window
      // persist pins pid across the ranked/sizes branches (see
      // caim_candidates — same RangePartitioner-reseeding hazard)
      val e = t(s, sf, "embeddings")
        .select(col("vec_id"), element_at(col("embedding"), 1).cast("double").as("v"))
        .repartitionByRange(col("v"), col("vec_id"))
        .withColumn("pid", spark_partition_id())
        .persist()
      val wp = Window.partitionBy("pid").orderBy(col("v").asc, col("vec_id").asc)
      val ranked = e.withColumn("rn", row_number().over(wp))
      val sizes = e.groupBy("pid").agg(count(lit(1)).as("n"))
      // prefix sum over ≤ #partitions rows via triangular self-join — no
      // unpartitioned window, no single-partition exchange
      val offs = sizes.as("x").join(sizes.as("y"), col("y.pid") < col("x.pid"), "left")
        .groupBy(col("x.pid").as("pid"))
        .agg(coalesce(sum(col("y.n")), lit(0L)).as("off"))
      val tot = sizes.agg(sum("n").as("n_tot"))
      // ntile(k): the first (n % k) buckets get ceil(n/k) rows, the rest
      // floor(n/k); rank r (1-based) maps to its bucket by integer division
      ranked.join(broadcast(offs), Seq("pid"))
        .crossJoin(broadcast(tot))
        .withColumn("r", col("off") + col("rn"))
        .withColumn("bsz", expr("n_tot div 8"))
        .withColumn("rem", expr("n_tot % 8"))
        .withColumn("bin",
          when(col("r") <= col("rem") * (col("bsz") + 1),
            expr("(r - 1) div (bsz + 1)") + 1)
            .otherwise(col("rem") + expr("(r - 1 - rem * (bsz + 1)) div bsz") + 1))
        .select(col("vec_id"), col("bin").cast("long").as("bin"))
        .orderBy("vec_id")
    }),

    // naive Bayes MODEL FIT over discretized features (round 12, third
    // batch) — the classifier the discretization tier exists to feed
    // (Kurgan–Cios motivate CAIM exactly as a preprocessing step for
    // classifiers; Domingos & Pazzani, Machine Learning 29, 1997, for NB
    // under zero–one loss): class-conditional bin counts for three
    // features (embedding[1..3], 20-bin equal-width grid — the
    // caim_quanta binning, shared verbatim). ONE corpus pass: the
    // per-feature (lo, hi) ride a 1-row broadcast, the long form is a
    // single explode(map(...)) — never one scan per feature — and the
    // model is a map-side-combined count over (feature, bin, label).
    // The fitted model is O(d·V·C) rows (60·C here) — the frame every
    // downstream classify broadcasts.
    "nb_fit" -> ((s, sf) => {
      nbLongForm(s, sf)
        .groupBy("feature", "bin", "label").agg(count(lit(1)).as("cnt"))
        .orderBy("feature", "bin", "label")
    }),

    // naive Bayes CLASSIFICATION (round 12, third batch) — argmax_c
    // P(c)·Π_f P(bin_f | c) with Laplace (add-one) smoothing over the
    // nb_fit model, scored back over the training rows (the
    // training-accuracy demo shape). Float discipline — deliberately
    // STRONGER than the per-term DECIMAL-quantized ln chain, which a
    // 1-ulp ln() divergence between engines can flip on near-tied
    // classes (observed in-round: two classes tied at 6dp ranked
    // oppositely by the two engines' 15dp ln sums): the posterior is
    // compared as the RAW RATIONAL n_c·Π_f(cnt_f+1) / ((n_c+20)^d·N).
    // Numerator and denominator are EXACT BIGINTs (no float sum
    // anywhere), so each engine casts the SAME integers to double and
    // performs ONE correctly-rounded IEEE division — bit-identical
    // scores by construction; any double collision collides identically
    // on both engines and the (score DESC, label ASC) tie-break resolves
    // it identically. ln() appears only in the REPORTED log_score (a 6dp
    // display of an identical double), never in the comparison.
    // Scale posture: the densified model (d·V·C rows, zero-count bins
    // materialized so absent (bin, class) cells still contribute their
    // smoothed factor) and the priors BROADCAST; the only corpus-sized
    // shuffle is the (vec_id, class) pivot aggregation — C rows per
    // input row, ids and longs only. The window argmax partitions by
    // vec_id (C rows per partition), never a global sort. Exactness
    // bound: the BIGINT numerator n_c·Π(cnt+1) ≤ n_c⁴ needs per-class
    // counts < ~55k to stay inside BIGINT; past that the identical
    // rationals ride DECIMAL(38,0) unchanged.
    "nb_classify" -> ((s, sf) => {
      val lf = nbLongForm(s, sf)
      val model = lf.groupBy(col("feature"), col("bin"),
        col("label").as("clabel")).agg(count(lit(1)).as("cnt"))
      val priors = t(s, sf, "embeddings")
        .groupBy(col("label").as("clabel")).agg(count(lit(1)).as("n_c"))
      val tot = priors.agg(sum(col("n_c")).as("n_tot"))
      val grid = nbFeatsToDF(s)
        .crossJoin(s.range(20).select(col("id").as("bin")))
        .crossJoin(priors.select("clabel"))
      val dense = grid.join(model, Seq("feature", "bin", "clabel"), "left")
        .select(col("feature"), col("bin"), col("clabel"),
          (coalesce(col("cnt"), lit(0L)) + lit(1L)).as("csm"))
      val scores = lf.select("vec_id", "feature", "bin")
        .join(broadcast(dense), Seq("feature", "bin"))
        .groupBy("vec_id", "clabel").agg(
          max(when(col("feature") === "f1", col("csm"))).as("c1"),
          max(when(col("feature") === "f2", col("csm"))).as("c2"),
          max(when(col("feature") === "f3", col("csm"))).as("c3"))
        .join(broadcast(priors), Seq("clabel"))
        .crossJoin(broadcast(tot))
        .withColumn("num", col("n_c") * col("c1") * col("c2") * col("c3"))
        .withColumn("den", (col("n_c") + lit(20L)) * (col("n_c") + lit(20L))
          * (col("n_c") + lit(20L)) * col("n_tot"))
        .withColumn("score",
          col("num").cast("double") / col("den").cast("double"))
      val w = Window.partitionBy("vec_id")
        .orderBy(col("score").desc, col("clabel"))
      scores.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .join(t(s, sf, "embeddings").select("vec_id", "label"), Seq("vec_id"))
        .select(col("vec_id"), col("label"), col("clabel").as("pred"),
          round(log(col("score")), 6).as("log_score"))
        .orderBy("vec_id")
    }),

    "ml_logreg" -> lrQuery
  )

  /** Logistic regression (round 12, third batch; rows-only) — the GLM
    * workhorse beside the NB pair: binary target y = label mod 2 over the
    * same embedding[1..3] features, fitted by [[graft.ml.LogReg]]'s
    * distributed IRLS (per iteration ONE aggregate computes the exact
    * X'WX / X'(y−p) sufficient statistics from coefficient literals; the
    * (d+1)-dim solve is driver arithmetic — corpus passes = iterations,
    * shuffle = (d+1)(d+2)/2+d+1 doubles, the textbook cluster-statistics
    * GLM that scales in d², not n). Not SQL-expressible (iterative
    * reweighted fit) → no oracle; LogRegSpec compares against an
    * independent driver IRLS at 1e-6 and pins sign recovery on a planted
    * separable set. Coefficients round to 6dp (the moment sums are IEEE
    * partial sums — last-ulp partition noise is below that). */
  private def lrQuery: Q = (s, sf) => {
    val df = t(s, sf, "embeddings").select(
      element_at(col("embedding"), 1).cast("double").as("f1"),
      element_at(col("embedding"), 2).cast("double").as("f2"),
      element_at(col("embedding"), 3).cast("double").as("f3"),
      (col("label") % 2).cast("int").as("y"))
    val beta = graft.ml.LogReg.fit(df, Seq("f1", "f2", "f3"), "y")
    val names = Seq("intercept", "f1", "f2", "f3")
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(names.zip(beta).map { case (n, b) =>
        org.apache.spark.sql.Row(n, BigDecimal(b)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }: _*)
    s.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("coef",
        org.apache.spark.sql.types.DoubleType))))
  }

  /** Equal-width bin of `v` among `n` bins over [lo, hi], the maximum in
    * the last bin: the grid of caim_quanta, disc_equal_width and the naive
    * Bayes pair. */
  private def widthBin(v: Column, lo: Column, hi: Column, n: Int): Column =
    least(floor((v - lo) / ((hi - lo) / n)), lit(n - 1L)).cast("long")

  /** caim_quanta's (label, bin, cnt) rows, unordered: embedding[1] over
    * the 20-bin equal-width grid. */
  private def quanta(s: SparkSession, sf: String): DataFrame = {
    val e = t(s, sf, "embeddings")
      .select(col("label"), element_at(col("embedding"), 1).cast("double").as("v"))
    val stats = e.agg(min("v").as("lo"), max("v").as("hi"))
    e.crossJoin(broadcast(stats))
      .select(col("label"), widthBin(col("v"), col("lo"), col("hi"), 20).as("bin"))
      .groupBy("label", "bin").agg(count(lit(1)).as("cnt"))
  }

  /** Feature names for the naive Bayes pair (embedding[1..3]). */
  private val nbFeats = Seq("f1", "f2", "f3")

  private def nbFeatsToDF(s: SparkSession) = {
    import s.implicits._
    nbFeats.toDF("feature")
  }

  /** Shared NB long form: (vec_id, label, feature, bin) — caim_quanta's
    * 20-bin equal-width grid per feature, one corpus scan, one explode. */
  private def nbLongForm(s: SparkSession, sf: String) = {
    val e = t(s, sf, "embeddings").select(
      col("vec_id") +: col("label") +:
        nbFeats.zipWithIndex.map { case (n, i) =>
          element_at(col("embedding"), i + 1).cast("double").as(n) }: _*)
    val stats = e.agg(
      min(col(nbFeats.head)).as(s"lo_${nbFeats.head}"),
      nbFeats.tail.flatMap(n =>
        Seq(min(col(n)).as(s"lo_$n"), max(col(n)).as(s"hi_$n"))) :+
        max(col(nbFeats.head)).as(s"hi_${nbFeats.head}"): _*)
    val binExprs = nbFeats.flatMap { n =>
      Seq(lit(n), widthBin(col(n), col(s"lo_$n"), col(s"hi_$n"), 20))
    }
    e.crossJoin(broadcast(stats))
      .select(col("vec_id"), col("label"),
        explode(map(binExprs: _*)).as(Seq("feature", "bin")))
  }

  val oracle: Map[String, String] = Map(
    "caim_candidates" ->
      """WITH d AS (SELECT DISTINCT CAST(embedding[1] AS DOUBLE) AS v FROM embeddings)
         SELECT cand FROM (
           SELECT (lag(v) OVER (ORDER BY v) + v)/2 AS cand FROM d)
         WHERE cand IS NOT NULL ORDER BY cand""",
    "caim_quanta" ->
      """WITH e AS (SELECT label, CAST(embedding[1] AS DOUBLE) AS v FROM embeddings),
              s AS (SELECT min(v) lo, max(v) hi FROM e)
         SELECT label,
           least(CAST(floor((v - lo)/((hi - lo)/20)) AS BIGINT), 19) AS bin,
           count(*) AS cnt
         FROM e, s GROUP BY 1, 2 ORDER BY label, bin""",
    "caim_criterion" ->
      """WITH e AS (SELECT label, CAST(embedding[1] AS DOUBLE) AS v FROM embeddings),
              s AS (SELECT min(v) lo, max(v) hi FROM e),
              q AS (SELECT label,
                      least(CAST(floor((v - lo)/((hi - lo)/20)) AS BIGINT), 19) AS bin,
                      count(*) AS cnt
                    FROM e, s GROUP BY 1, 2),
              a AS (SELECT bin, max(cnt) mx, CAST(sum(cnt) AS BIGINT) tot FROM q GROUP BY bin)
         SELECT count(*) AS n_bins,
                round(sum(mx*mx/CAST(tot AS DOUBLE))/count(*), 6) AS caim
         FROM a""",
    "caim_transform" ->
      """SELECT vec_id,
           CAST(CASE WHEN v < -0.2 THEN 0 WHEN v < 0.0 THEN 1
                     WHEN v < 0.2 THEN 2 ELSE 3 END AS BIGINT) AS bin
         FROM (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS v FROM embeddings)
         ORDER BY vec_id""",
    "disc_equal_width" ->
      """WITH e AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS v FROM embeddings),
              s AS (SELECT min(v) lo, max(v) hi FROM e)
         SELECT vec_id,
           least(CAST(floor((v - lo)/((hi - lo)/10)) AS BIGINT), 9) AS bin
         FROM e, s ORDER BY vec_id""",
    "disc_equal_freq" ->
      """SELECT vec_id,
           CAST(ntile(8) OVER (ORDER BY v, vec_id) AS BIGINT) AS bin
         FROM (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS v FROM embeddings)
         ORDER BY vec_id""",
    "nb_fit" ->
      """WITH e AS (SELECT vec_id, label,
             CAST(embedding[1] AS DOUBLE) AS f1,
             CAST(embedding[2] AS DOUBLE) AS f2,
             CAST(embedding[3] AS DOUBLE) AS f3 FROM embeddings),
           st AS (SELECT min(f1) lo1, max(f1) hi1, min(f2) lo2, max(f2) hi2,
             min(f3) lo3, max(f3) hi3 FROM e),
           lf AS (SELECT vec_id, label, 'f1' AS feature,
               least(CAST(floor((f1 - lo1)/((hi1 - lo1)/20)) AS BIGINT), 19)
                 AS bin FROM e, st
             UNION ALL SELECT vec_id, label, 'f2',
               least(CAST(floor((f2 - lo2)/((hi2 - lo2)/20)) AS BIGINT), 19)
               FROM e, st
             UNION ALL SELECT vec_id, label, 'f3',
               least(CAST(floor((f3 - lo3)/((hi3 - lo3)/20)) AS BIGINT), 19)
               FROM e, st)
         SELECT feature, bin, label, count(*) AS cnt FROM lf
         GROUP BY 1, 2, 3 ORDER BY feature, bin, label""",
    "nb_classify" ->
      """WITH e AS (SELECT vec_id, label,
             CAST(embedding[1] AS DOUBLE) AS f1,
             CAST(embedding[2] AS DOUBLE) AS f2,
             CAST(embedding[3] AS DOUBLE) AS f3 FROM embeddings),
           st AS (SELECT min(f1) lo1, max(f1) hi1, min(f2) lo2, max(f2) hi2,
             min(f3) lo3, max(f3) hi3 FROM e),
           lf AS (SELECT vec_id, label, 'f1' AS feature,
               least(CAST(floor((f1 - lo1)/((hi1 - lo1)/20)) AS BIGINT), 19)
                 AS bin FROM e, st
             UNION ALL SELECT vec_id, label, 'f2',
               least(CAST(floor((f2 - lo2)/((hi2 - lo2)/20)) AS BIGINT), 19)
               FROM e, st
             UNION ALL SELECT vec_id, label, 'f3',
               least(CAST(floor((f3 - lo3)/((hi3 - lo3)/20)) AS BIGINT), 19)
               FROM e, st),
           model AS (SELECT feature, bin, label AS clabel, count(*) AS cnt
             FROM lf GROUP BY 1, 2, 3),
           priors AS (SELECT label AS clabel, count(*) AS n_c FROM e
             GROUP BY 1),
           tot AS (SELECT CAST(sum(n_c) AS BIGINT) AS n_tot FROM priors),
           grid AS (SELECT f.feature, g.bin, p.clabel
             FROM (VALUES ('f1'), ('f2'), ('f3')) f(feature)
             CROSS JOIN (SELECT unnest(range(20)) AS bin) g
             CROSS JOIN priors p),
           dense AS (SELECT grid.feature, grid.bin, grid.clabel,
               CAST(coalesce(cnt, 0) + 1 AS BIGINT) AS csm
             FROM grid LEFT JOIN model ON model.feature = grid.feature
               AND model.bin = grid.bin AND model.clabel = grid.clabel),
           piv AS (SELECT l.vec_id, d.clabel,
               max(CASE WHEN d.feature = 'f1' THEN csm END) AS c1,
               max(CASE WHEN d.feature = 'f2' THEN csm END) AS c2,
               max(CASE WHEN d.feature = 'f3' THEN csm END) AS c3
             FROM lf l JOIN dense d ON d.feature = l.feature AND d.bin = l.bin
             GROUP BY 1, 2),
           scores AS (SELECT vec_id, piv.clabel,
               CAST(n_c * c1 * c2 * c3 AS DOUBLE) /
               CAST((n_c + 20) * (n_c + 20) * (n_c + 20) * n_tot AS DOUBLE)
                 AS score
             FROM piv JOIN priors ON priors.clabel = piv.clabel
               CROSS JOIN tot),
           ranked AS (SELECT vec_id, clabel, score, row_number() OVER
               (PARTITION BY vec_id ORDER BY score DESC, clabel) AS rn
             FROM scores)
         SELECT r.vec_id, e.label, r.clabel AS pred,
           round(ln(r.score), 6) AS log_score
         FROM ranked r JOIN e ON e.vec_id = r.vec_id
         WHERE rn = 1 ORDER BY r.vec_id"""
  )
}
