package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Pin.Syntax

/** Embedding-matrix operators beyond similarity search: storage
  * quantization and spectral diagnostics. Everything here follows the
  * engine's cross-engine determinism discipline — no `round()` on
  * unbounded doubles, no transcendental functions, no order-dependent
  * double sums. Two building blocks make that possible:
  *
  *  - **floor-quantization** `floor(x · 2^s + 0.5)`: multiply by a power
  *    of two (EXACT on a float32-valued double), add 0.5, floor — three
  *    IEEE operations with identical results on any engine, unlike
  *    `CAST(double AS BIGINT)` (Spark truncates, DuckDB rounds) or
  *    decimal casts (engine-specific rounding modes).
  *  - **fixed-order folds**: any reduction whose order matters runs
  *    left-to-right, index-ascending, with the first element as the
  *    accumulator seed — the exact semantics of DuckDB's `list_reduce`,
  *    mirrored by the driver-side loops here and by
  *    [[graft.functions.DotProductF]].
  */
object EmbeddingOps {

  /** Per-coordinate fixed-point scale for covariance accumulation: 2^24
    * units. Embedding coordinates are O(1), so the scaled magnitudes are
    * ≤ ~2^27; a pairwise product is ≤ ~2^54 (exact in Long) and the
    * corpus sum runs in DECIMAL(38,0) (exact to 10^38 — a quadrillion
    * rows of headroom). */
  val Q = 1 << 24

  /** INT8 affine (min/max) quantization audit — the storage layout
    * question every billion-vector corpus answers before writing its
    * index (FAISS SQ8 / ONNX uint8 affine convention): per dimension,
    * the [min, max] range maps linearly onto code points 0..255, and the
    * audit reports the range, the scale, and the worst/mean absolute
    * dequantization error.
    *
    * Scale shape: one posexplode + (pos)-keyed aggregate for the ranges
    * (map-side partials, 64·partitions shuffle rows), one broadcast of
    * the 64-row range table back onto a second pass for the error stats.
    * Error determinism: |x - dq| is floor-quantized to 1e-9 BEFORE
    * summing, so the mean is an exact integer sum divided once — no
    * order-dependent double accumulation. Output per dimension:
    * (pos, mn, mx, scale, n_clipped_lo/hi are structurally 0 for min/max
    * ranges and omitted, max_abs_err, mean_abs_err). */
  def int8QuantAudit(emb: DataFrame, idCol: String, embCol: String): DataFrame = {
    val coords = emb.select(col(idCol).as("id"),
      posexplode(col(embCol).cast("array<double>")).as(Seq("pos", "x")))
    val ranges = coords.groupBy("pos")
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .withColumn("scale", (col("mx") - col("mn")) / 255.0)
    coords.join(broadcast(ranges), Seq("pos"))
      .withColumn("code",
        when(col("scale") === 0.0, lit(0L)).otherwise(
          floor((col("x") - col("mn")) / col("scale") + 0.5).cast("long")))
      .withColumn("dq", col("mn") + col("code").cast("double") * col("scale"))
      .withColumn("err", abs(col("x") - col("dq")))
      // exact-integer error accumulation: floor-quantize to 1e-9
      .withColumn("err_q", floor(col("err") * 1e9 + 0.5).cast("long"))
      .groupBy("pos")
      .agg(min(col("mn")).as("mn"), max(col("mx")).as("mx"),
        min(col("scale")).as("scale"),
        max(col("err")).as("max_abs_err"),
        (sum(col("err_q")).cast("double") / count(lit(1)) / 1e9)
          .as("mean_abs_err"))
  }

  /** Per-label embedding centroid drift between crawl batches — the
    * FIRST-moment companion to the sign-cell JS divergence (q225): per
    * label, the cosine between the old-batch and new-batch centroids.
    * The means' 1/n factors cancel inside the cosine, so the statistic
    * reduces to three exact integer sums per (label, dim):
    * cos = Σ_d So_d·Sn_d / sqrt(Σ So_d² · Σ Sn_d²), with S the
    * floor-quantized coordinate sums — integer arithmetic end-to-end,
    * then ONE double expression (string-routed decimal→double, the
    * engine rule), unrounded.
    *
    * Scale shape: one posexplode scan per batch collapsing to
    * (label, dim) decimal sums under map-side partials (the fan-out
    * never reaches an exchange at row grain); everything after is
    * labels × dims. Precision bound: a per-(label,dim) sum reaches
    * n_label·2²⁴·|x|, so the decimal(38,0) products stay exact up to
    * ~10¹² rows per label — beyond that, drop the fixed-point scale a
    * few bits. Labels present in only one batch have no defined drift
    * and are omitted (inner join by construction). */
  def centroidDrift(oldBatch: DataFrame, newBatch: DataFrame,
      labelCol: String, embCol: String): DataFrame = {
    def sums(df: DataFrame, s: String, c: String): DataFrame = df
      .select(col(labelCol).as("label"),
        posexplode(transform(col(embCol).cast("array<double>"),
          x => floor(x * Q + 0.5).cast("long"))).as(Seq("__d", "__sv")))
      .groupBy("label", "__d")
      .agg(sum(col("__sv").cast(DecimalType(38, 0))).as(s),
        count(lit(1)).as(c))
    def d2d(c: org.apache.spark.sql.Column) =
      c.cast("string").cast("double")
    def dsum(c: org.apache.spark.sql.Column) =
      sum(c).cast(DecimalType(38, 0))
    sums(oldBatch, "__so", "__co")
      .join(sums(newBatch, "__sn", "__cn"), Seq("label", "__d"))
      .groupBy("label")
      .agg(max(col("__co")).as("n_old"), max(col("__cn")).as("n_new"),
        dsum(col("__so") * col("__sn")).as("__xy"),
        dsum(col("__so") * col("__so")).as("__xx"),
        dsum(col("__sn") * col("__sn")).as("__yy"))
      .select(col("label"), col("n_old"), col("n_new"),
        when(col("__xx") > 0 && col("__yy") > 0,
          d2d(col("__xy")) / sqrt(d2d(col("__xx")) * d2d(col("__yy"))))
          .as("cos_centroid"))
      .withColumn("drift", lit(1.0) - col("cos_centroid"))
  }

  /** Distributed covariance Gramian in exact fixed-point arithmetic:
    * every coordinate floor-quantizes to [[Q]] units, and the (i, j)
    * cell is n·Σsᵢsⱼ − Σsᵢ·Σsⱼ over exact integer sums, divided ONCE in
    * double by n·(n−1)·Q² — the computational covariance formula with
    * zero order-dependence (integer adds commute) and one deterministic
    * IEEE division per cell.
    *
    * Scale shape: the per-row fan-out is the UPPER TRIANGLE only
    * (dim·(dim+1)/2 — the Gramian is symmetric and integer sums are
    * exact, so mirroring the finished cells is free and exact: measured
    * ~2× on the dominant aggregate), collapsing under partial
    * aggregation to triangle-size rows per partition before the
    * exchange — the standard Gram-matrix reduction (X^T X via map-side
    * outer-product partials); the moment tables are dim²- and
    * dim-sized. */
  def covarianceCells(emb: DataFrame, idCol: String, embCol: String): DataFrame = {
    val s = emb.select(
      transform(col(embCol).cast("array<double>"),
        x => floor(x * Q + 0.5).cast("long")).as("s"))
    val si = s.select(col("s"), posexplode(col("s")).as(Seq("i", "si")))
    // tail-slice explode: only j >= i ever materializes
    val pairs = si.select(col("i"), col("si"),
      posexplode(slice(col("s"), col("i") + 1, lit(Int.MaxValue)))
        .as(Seq("dj", "sj")))
      .select(col("i"), col("si"), (col("i") + col("dj")).as("j"), col("sj"))
    // The product sum stays EXACT without a Decimal(38) aggregate (whose
    // BigDecimal-backed updates dominated the job — measured ~2× of the
    // whole query): each ≤2^54 product splits into an arithmetic-shift
    // high half and a masked low half, both summed as codegen'd LONGs
    // (hi ≤ N·2^24, lo ≤ N·2^30 — exact to N ≈ 2^33 vectors), and the
    // exact integer reassembles in decimal at CELL granularity (dim²
    // rows, not corpus×dim² rows).
    val prod = col("si") * col("sj")
    val ss = pairs.groupBy("i", "j")
      .agg(sum(shiftright(prod, 30)).as("__hi"),
        sum(prod.bitwiseAND(lit((1L << 30) - 1))).as("__lo"),
        count(lit(1)).as("n"))
      .withColumn("ss",
        col("__hi").cast(DecimalType(38, 0)) * lit(1L << 30) + col("__lo"))
    val sums = si.groupBy(col("i").as("k"))
      .agg(sum(col("si")).cast(DecimalType(38, 0)).as("sk"))
    val tri = ss
      .join(broadcast(sums.select(col("k").as("i"), col("sk").as("s_i"))), Seq("i"))
      .join(broadcast(sums.select(col("k").as("j"), col("sk").as("s_j"))), Seq("j"))
      .select(col("i"), col("j"),
        // big-integer -> double via a STRING round-trip: decimal-string
        // parsing is correctly rounded by spec on both engines
        // (Double.parseDouble / strtod), where the engines' direct
        // decimal->double conversions disagreed by 1 ulp on >2^53 values
        ((col("n") * col("ss") - col("s_i") * col("s_j"))
          .cast("string").cast("double") /
          (col("n").cast("double") * (col("n") - 1).cast("double") *
            (Q.toDouble * Q.toDouble))).as("cov"))
      // pinned: the mirror union references the triangle twice, and the
      // triangle IS the corpus-scan aggregate — without the barrier the
      // union would run it twice and the halving would be a doubling
      .pin()
    tri.unionAll(tri.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("cov")))
  }

  /** Top principal component by fixed-count power iteration over the
    * [[covarianceCells]] Gramian — the spectral corpus diagnostic
    * (effective dimensionality, dominant-direction loading, the
    * "embedding collapse" early-warning an anisotropy audit reads off
    * the top eigenpair; Mu & Viswanath 2018 "All-but-the-Top" is the
    * canonical use).
    *
    * The corpus-sized work is the one Gramian pass; the iteration runs
    * on the collected dim² cell table (64×64 = 32 KB here — bounded
    * driver state, the k-means-centroid legitimacy argument). Every
    * float step is order-pinned: mat-vec rows fold index-ascending with
    * first-element seed, the L∞ norm folds the same way, `iters`
    * normalized multiplies from the all-ones start vector — so the
    * DuckDB oracle's `list_reduce` CTE chain reproduces the doubles
    * bit-for-bit. Output: one row per dimension (pos, loading = the
    * L∞-normalized eigenvector entry, eigenvalue = the final iterate's
    * L∞ norm, explained_frac = eigenvalue / trace). */
  /** Fixed-order fold, FIRST ELEMENT as seed (list_reduce semantics). */
  private def foldSum(xs: Array[Double]): Double = {
    var acc = xs(0); var k = 1
    while (k < xs.length) { acc += xs(k); k += 1 }; acc
  }
  private def foldMax(xs: Array[Double]): Double = {
    var acc = xs(0); var k = 1
    while (k < xs.length) { acc = math.max(acc, xs(k)); k += 1 }; acc
  }

  /** Driver-side power iteration over the collected Gramian cells:
    * (matrix, v after `iters` L∞-normalized multiplies, final L∞ norm,
    * trace) — every float step order-pinned to list_reduce semantics. */
  private def powerIterate(emb: DataFrame, idCol: String, embCol: String,
      dim: Int, iters: Int): (Array[Array[Double]], Array[Double], Double, Double) = {
    require(iters >= 1 && iters <= 50)
    val cells = covarianceCells(emb, idCol, embCol).collect()
    val c = Array.ofDim[Double](dim, dim)
    cells.foreach(r => c(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    var v = Array.fill(dim)(1.0)
    var lambda = 0.0
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim)(i =>
        foldSum(Array.tabulate(dim)(j => c(i)(j) * v(j))))
      lambda = foldMax(w.map(math.abs))
      v = w.map(_ / lambda)
    }
    (c, v, lambda, foldSum(Array.tabulate(dim)(i => c(i)(i))))
  }

  def topPrincipalComponent(emb: DataFrame, idCol: String, embCol: String,
      dim: Int, iters: Int = 9): DataFrame = {
    val spark = emb.sparkSession
    val (_, v, lambda, trace) = powerIterate(emb, idCol, embCol, dim, iters)
    import scala.jdk.CollectionConverters._
    val rows: java.util.List[Row] = (0 until dim).map(i =>
      Row(i, v(i), lambda, lambda / trace)).asJava
    spark.createDataFrame(rows,
      StructType(Seq(StructField("pos", IntegerType, nullable = false),
        StructField("loading", DoubleType, nullable = false),
        StructField("eigenvalue", DoubleType, nullable = false),
        StructField("explained_frac", DoubleType, nullable = false))))
  }

  /** All-but-the-Top anisotropy correction (Mu & Viswanath 2018,
    * arXiv:1702.01417): embeddings share a large common component — the
    * mean plus a few dominant directions — whose removal measurably
    * improves similarity tasks. This is the top-1 form: per vector, the
    * coefficient of (x − μ) along the unit top principal direction and
    * the squared norm of what remains.
    *
    * Scale shape: the heavy lifting is [[covarianceCells]] + one tiny
    * moment pass, both bounded-output; the per-vector pass is then a
    * MAP-ONLY projection against plan-time literal vectors — the
    * centered dot uᵀ(x−μ) distributes as uᵀx − uᵀμ, so the row side is
    * two codegen'd [[graft.functions.DotProductF]] folds and four
    * arithmetic ops against inlined constants, no per-row array
    * construction, no HOF lambdas, nothing interpreted. Every constant
    * (μ, u, uᵀμ, μᵀμ) is computed with the same order-pinned folds the
    * oracle's list_reduce chain uses, and the per-row expression tree is
    * mirrored parenthesis-for-parenthesis, so the output doubles are
    * bit-identical cross-engine with zero rounding. Output:
    * (id, pc1_coef, resid_sq = ‖x−μ‖² − coef²). */
  def allButTop(emb: DataFrame, idCol: String, embCol: String,
      dim: Int, iters: Int = 9): DataFrame = {
    graft.functions.VectorExpressions.register(emb.sparkSession)
    val (_, v, _, _) = powerIterate(emb, idCol, embCol, dim, iters)
    // μ in embedding units: string-route the exact Σs integers to double
    // (correctly-rounded parse, see covarianceCells), then one division
    val moments = emb.select(
      posexplode(transform(col(embCol).cast("array<double>"),
        x => floor(x * Q + 0.5).cast("long"))).as(Seq("k", "sk")))
      .groupBy("k")
      .agg(sum(col("sk")).cast(DecimalType(38, 0)).as("s"),
        count(lit(1)).as("n"))
      .collect()
    val n = moments.head.getLong(2)
    val mu = new Array[Double](dim)
    moments.foreach(r => mu(r.getInt(0)) =
      java.lang.Double.parseDouble(r.getDecimal(1).toPlainString) /
        (n.toDouble * Q.toDouble))
    val l2 = math.sqrt(foldSum(v.map(x => x * x)))
    val u = v.map(_ / l2)
    val c0 = foldSum(Array.tabulate(dim)(k => mu(k) * u(k)))   // uᵀμ
    val cmm = foldSum(Array.tabulate(dim)(k => mu(k) * mu(k))) // μᵀμ
    val uLit = array(u.map(lit).toSeq: _*)
    val muLit = array(mu.map(lit).toSeq: _*)
    val x = col(embCol)
    val coef = VectorOps.dot(x, uLit) - lit(c0)
    val centeredSq =
      VectorOps.dot(x, x) - lit(2.0) * VectorOps.dot(x, muLit) + lit(cmm)
    emb.select(col(idCol), coef.as("pc1_coef"),
      (centeredSq - coef * coef).as("resid_sq"))
  }

  /** Greedy k-center coreset (Gonzalez 1985, "Clustering to minimize the
    * maximum intercluster distance" — the 2-approximation farthest-point
    * heuristic): starting from the lowest-id vector, repeatedly add the
    * point FARTHEST from the chosen set (minimum max-cosine, ties to the
    * lower id). The canonical diversity-maximizing subset selection —
    * coreset seeds, eval-set picking, "cover the embedding space with k
    * exemplars".
    *
    * Scale shape: k−1 passes, each a MAP-ONLY scoring of every vector
    * against ≤k plan-time literal centers (`greatest` of codegen'd dot
    * folds — no crossJoin, no groupBy) followed by one global min_by
    * aggregate (partials collapse map-side to one row per partition).
    * Driver state is the k chosen vectors — the k-means-centroid
    * legitimacy bound. Determinism: raw IEEE cosines (fixed-order dot),
    * ties on the lower id, no rounding anywhere. Output: (rank 1..k,
    * id, max_cos = the selected point's similarity to the set that
    * preceded it — null for the seed; monotone non-decreasing by
    * construction, the k-center radius curve). */
  def kCenterCoreset(emb: DataFrame, idCol: String, embCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 256, "bounded driver state")
    graft.functions.VectorExpressions.register(emb.sparkSession)
    val n = emb.select(col(idCol).as("id"), col(embCol).as("emb"))
      .withColumn("n2", VectorOps.normSq(col("emb")))
      .pin() // scanned k times
    val seed = n.orderBy("id").limit(1).collect().head
    // chosen: (id, coords as exact doubles, n2)
    var chosen = Vector((seed.getLong(0),
      seed.getSeq[Float](1).map(_.toDouble).toArray, seed.getDouble(2)))
    var out = Vector((1L, seed.getLong(0), Option.empty[Double]))
    for (rank <- 2 to k) {
      val mc = chosen.map { case (_, c, cn2) =>
        VectorOps.cosine(
          VectorOps.dot(col("emb"), array(c.map(lit).toSeq: _*)),
          col("n2"), lit(cn2))
      }.reduce((a, b) => greatest(a, b))
      val picked = n
        .filter(!col("id").isin(chosen.map(_._1): _*))
        .withColumn("__mc", mc)
        .agg(min_by(struct(col("id"), col("emb"), col("n2")),
          struct(col("__mc"), col("id"))).as("__b"),
          min(struct(col("__mc"), col("id"))).as("__k"))
        .select(col("__b.id"), col("__b.emb"), col("__b.n2"),
          col("__k.__mc"))
        .collect().head
      chosen :+= ((picked.getLong(0),
        picked.getSeq[Float](1).map(_.toDouble).toArray, picked.getDouble(2)))
      out :+= ((rank.toLong, picked.getLong(0), Some(picked.getDouble(3))))
    }
    import scala.jdk.CollectionConverters._
    val rows: java.util.List[Row] = out.map { case (r, id, m) =>
      Row(r, id, m.orNull)
    }.asJava
    emb.sparkSession.createDataFrame(rows,
      StructType(Seq(StructField("sel_rank", LongType, nullable = false),
        StructField(idCol, LongType, nullable = false),
        StructField("max_cos", DoubleType, nullable = true))))
  }

  /** Label-separation audit — the embedding-space health matrix a
    * classifier or hard-negative miner reads before trusting the space:
    * per label pair, the cosine between exact per-label centroids
    * (off-diagonal = class confusability), and on the diagonal the
    * label's size and mean member-to-own-centroid cosine (class
    * tightness).
    *
    * Scale shape: centroids come from ONE posexplode + (label, dim)
    * hash-aggregate over [[Q]]-fixed-point ints (exact at any row
    * count), collected as an L×dim table (L = label cardinality — the
    * same bounded driver sync as k-means seeds); member scoring is then
    * a broadcast join + map-only [[graft.functions.DotProductF]] fold;
    * the L² pair matrix is a broadcast self-cross of the tiny centroid
    * table. Cosines pin to 6 digits; the intra mean runs through exact
    * decimal sums. */
  def labelSeparation(emb: DataFrame, idCol: String, embCol: String,
      labelCol: String, dim: Int): DataFrame = {
    val spark = emb.sparkSession
    graft.functions.VectorExpressions.register(spark)
    import spark.implicits._
    val s = emb.select(col(labelCol).cast("long").as("label"),
      posexplode(transform(col(embCol),
        x => floor(x.cast("double") * Q + lit(0.5)).cast("long")))
        .as(Seq("i", "v")))
    val cent = s.groupBy("label", "i")
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      .collect()
    val byLabel = cent.groupBy(_.getLong(0)).map { case (l, rs) =>
      val n = rs.head.getLong(3)
      val c = new Array[Double](dim)
      rs.foreach(r => c(r.getInt(1)) = (r.getLong(2).toDouble / Q) / n)
      (l, n, c, c.map(x => x * x).sum) // left-to-right fold, like the oracle
    }.toSeq.sortBy(_._1)
    val centsDf = byLabel.map { case (l, n, c, n2) => (l, n, c.toSeq, n2) }
      .toDF("label", "n_vecs", "c_emb", "c_n2")
    val own = emb
      .select(col(labelCol).cast("long").as("label"), col(embCol).as("emb"))
      .withColumn("n2", VectorOps.normSq(col("emb")))
      .join(broadcast(centsDf), Seq("label"))
      .withColumn("cos", round(VectorOps.dot(col("emb"), col("c_emb")) /
        sqrt(col("n2") * col("c_n2")), 6))
    val intra = own.groupBy("label")
      .agg(round(graft.core.Det.sumDet(col("cos"), 6) / count(lit(1)), 6)
        .as("mean_intra_cos"))
    val a = centsDf.select(col("label").as("label_a"),
      col("n_vecs").as("__na2"), col("c_emb").as("__ea"), col("c_n2").as("__n2a"))
    val b = centsDf.select(col("label").as("label_b"),
      col("c_emb").as("__eb"), col("c_n2").as("__n2b"))
    a.crossJoin(broadcast(b)) // pin BNLJ: planner stats sometimes pick a CartesianProduct for the local-table self-cross
      .withColumn("centroid_cos", round(VectorOps.dot(col("__ea"), col("__eb")) /
        sqrt(col("__n2a") * col("__n2b")), 6))
      .join(intra, col("label_a") === col("label") &&
        col("label_a") === col("label_b"), "left")
      .select(col("label_a"), col("label_b"), col("centroid_cos"),
        when(col("label_a") === col("label_b"), col("__na2")).as("n_vecs"),
        col("mean_intra_cos"))
  }

  /** Unbiased linear-kernel Maximum Mean Discrepancy (Gretton et al.,
    * JMLR 2012) between every label pair — the two-sample domain-distance
    * test on embedding groups, complementing q225's per-dim JS divergence
    * (which sees marginals only; MMD sees the mean embedding):
    *
    *   MMD²_u(A,B) = (‖ΣA‖² − Σ‖a‖²)/(m(m−1)) + (‖ΣB‖² − Σ‖b‖²)/(n(n−1))
    *                 − 2·⟨ΣA,ΣB⟩/(mn)
    *
    * — for the linear kernel the corpus-pairwise sums collapse onto the
    * per-group SUM VECTOR, so one scan yields a (labels × dim) moment
    * table and everything pairwise runs on labels² × dim rows: the
    * sketch-sized shape (mergeable by vector addition across shards).
    * Determinism: coordinates pin to 6 dp and sum in exact decimal; the
    * cross-moment Σ_pos s_a·s_b sums 6-dp-rounded products in exact
    * decimal (products of exact 6-dp doubles are IEEE-identical
    * everywhere, and the decimal sum is order-free). */
  def linearMmd(emb: DataFrame, idCol: String, embCol: String,
      labelCol: String): DataFrame = {
    val sums = emb.select(col(labelCol).as("label"),
        posexplode(col(embCol)).as(Seq("pos", "__x")))
      .groupBy("label", "pos")
      .agg(graft.core.Det.sumDet(
        round(col("__x").cast("double"), 6), scale = 6).as("__s"))
    val stats = emb.select(col(labelCol).as("label"),
        round(VectorOps.normSq(col(embCol)), 6).as("__n2"))
      .groupBy("label")
      .agg(count(lit(1)).as("m"),
        graft.core.Det.sumDet(col("__n2"), scale = 6).as("__q"))
    val cross = sums.select(col("label").as("label_a"), col("pos"),
        col("__s").as("__sa"))
      .join(sums.select(col("label").as("label_b"), col("pos"),
        col("__s").as("__sb")), Seq("pos"))
      .filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(graft.core.Det.sumDet(
        round(col("__sa") * col("__sb"), 6), scale = 6).as("__sab"))
    val self = sums.groupBy("label")
      .agg(graft.core.Det.sumDet(
        round(col("__s") * col("__s"), 6), scale = 6).as("__ss"))
    val a = stats.join(self, Seq("label")).select(
      col("label").as("label_a"), col("m").as("m_a"),
      col("__q").as("__qa"), col("__ss").as("__ssa"))
    val b = stats.join(self, Seq("label")).select(
      col("label").as("label_b"), col("m").as("m_b"),
      col("__q").as("__qb"), col("__ss").as("__ssb"))
    cross.join(broadcast(a), Seq("label_a"))
      .join(broadcast(b), Seq("label_b"))
      .withColumn("mmd2", round(
        (col("__ssa") - col("__qa")) /
          (col("m_a") * (col("m_a") - 1)).cast("double") +
        (col("__ssb") - col("__qb")) /
          (col("m_b") * (col("m_b") - 1)).cast("double") -
        lit(2.0) * col("__sab") / (col("m_a") * col("m_b")).cast("double"),
        6))
      .select(col("label_a"), col("label_b"), col("m_a"), col("m_b"),
        col("mmd2"))
  }

  /** Participation-ratio dimensionality (the PR dimension of statistical
    * physics, used as an eigendecomposition-free effective-rank measure;
    * cf. Roy & Vetterli 2007's effective rank): PR = tr(C)² / tr(C²) =
    * (Σλ)²/Σλ² over the covariance spectrum — 1 when one direction
    * dominates, dim when variance spreads evenly — WITHOUT computing
    * eigenvalues, since tr(C) is the diagonal sum and tr(C²) = ‖C‖²_F
    * for symmetric C. The embedding-collapse diagnostic that q191's
    * top-1 power iteration can only bound.
    *
    * Scale shape: rides [[covarianceCells]]' one exact-integer corpus
    * pass; both traces are dim²-bounded aggregates of 12/14-dp-rounded
    * terms through exact decimal. */
  def participationRatio(emb: DataFrame, idCol: String, embCol: String,
      dim: Int = 64): DataFrame = {
    val cells = covarianceCells(emb, idCol, embCol)
    cells.agg(
      graft.core.Det.sumDet(when(col("i") === col("j"),
        round(col("cov"), 12)).otherwise(0.0d), 12).as("__tr"),
      graft.core.Det.sumDet(round(col("cov") * col("cov"), 14), 14)
        .as("__f2"))
      .select(lit(dim).as("dim"), round(col("__tr"), 8).as("trace"),
        round(col("__f2"), 10).as("frobenius_sq"),
        round(when(col("__f2") > 0.0,
          col("__tr") * col("__tr") / col("__f2")), 4)
          .as("participation_ratio"))
  }
}
