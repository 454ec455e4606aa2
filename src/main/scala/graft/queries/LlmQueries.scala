package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{Dedup, EmbeddingOps, Multimodal, Pipeline, Similarity, TextAnalysis, TextOps, VectorOps}

/** Training-data-pipeline operator suite over `documents` / `embeddings`:
  * dedup (exact, MinHash-LSH, SimHash, n-gram Jaccard), similarity search
  * (brute-force + LSH-bucketed ANN), and text analysis (lang-ID, quality,
  * tokens, fingerprints). Every query has a value-exact DuckDB oracle.
  */
object LlmQueries {

  /** Aggregation of the four domain files (r16 verdict #8: the
    * single file had grown past 7k lines — a pure move, no behavior
    * change; every shared SQL helper below is private[queries] so
    * the domain files reference one copy). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    LlmDedupQueries.queries ++ LlmSimilarityQueries.queries ++
      LlmTextQueries.queries ++ LlmGovernanceQueries.queries

  /** q82 target mixture weights (sources outside the map get weight 0). */
  val MixWeights: Map[String, Double] =
    Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1)

  /** Fixed BM25 query-term set (must stay in sync with the q76 oracle). */
  val Bm25Terms: Seq[String] = Seq("spark", "join", "vector")

  /** q78 per-language sampling rates, permille. */
  val SampleRates: Map[String, Int] =
    Map("en" -> 500, "fr" -> 250, "es" -> 250, "de" -> 125)

  /** q237 Cornish-Fisher machinery: Phi^-1(0.9) and the per-z expansion
    * coefficients, precomputed once as Scala doubles so the Spark plan
    * (via `lit`) and the DuckDB oracle (via string interpolation) run
    * identical IEEE arithmetic — Scala's shortest-round-trip double
    * printing reparses to the same bits on both engines. */
  private[queries] val Z90 = 1.2815515655446004
  private[queries] def CfK1(z: Double): Double = (z * z - 1.0) / 6.0
  private[queries] def CfK2(z: Double): Double = (z * z * z - 3.0 * z) / 24.0
  private[queries] def CfK3(z: Double): Double = -(2.0 * z * z * z - 5.0 * z) / 36.0

  /** Shared SQL fragments for the oracle. */
  private[queries] val WORDS =
    "list_filter(string_split(lower(text), ' '), w -> w <> '')"

  /** q85's add-one-smoothed bigram-LM scoring SQL, shared by the q125
    * perplexity-filter oracle (which wraps it with bucket/keep columns). */
  private[queries] def bigramLmSql: String =
    s"""WITH wr AS (SELECT doc_id, $WORDS AS w FROM documents),
       |b2 AS (
       |  SELECT doc_id, bg[1] AS w1, bg[2] AS w2
       |  FROM (SELECT doc_id, unnest(list_transform(
       |          range(1, len(w)), i -> [w[i], w[i+1]])) AS bg
       |        FROM wr WHERE len(w) >= 2)),
       |counts AS (SELECT w1, w2, COUNT(*) AS c12 FROM b2 GROUP BY 1, 2),
       |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM counts GROUP BY 1),
       |v AS (SELECT COUNT(DISTINCT word) AS v
       |      FROM (SELECT unnest($WORDS) AS word FROM documents)),
       |terms AS (
       |  SELECT doc_id, ROUND(-ln((c12 + 1.0) / CAST(c1 + v AS DOUBLE)), 6) AS nll
       |  FROM b2 JOIN counts USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v),
       |pd AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    ROUND(${graft.core.Det.sumDetSql("nll", 6)} / COUNT(*), 6) AS avg_nll
       |  FROM terms GROUP BY 1)
       |SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams, avg_nll
       |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin

  private[queries] def shinglesSql(n: Int): String = {
    val parts = (0 until n).map(k => s"w[i+$k]").mkString(" || ' ' || ")
    s"""list_distinct(CASE WHEN len(w) >= $n
       | THEN list_transform(range(1, len(w) - ${n - 2}), i -> $parts)
       | ELSE [] END)""".stripMargin
  }

  /** MinHash j (0-based, inside a `range(0, k)` lambda over `shingles`):
    * universal hash of the 32-bit md5-derived base — mirrors
    * [[graft.llm.Dedup.signaturesFromRows]] exactly. */
  private[queries] val MINHASH_SQL = {
    val a = Dedup.HASH_A.mkString("[", ", ", "]")
    val b = Dedup.HASH_B.mkString("[", ", ", "]")
    s"""list_aggregate(list_transform(shingles, s ->
       | ((${a})[j+1] * ('0x' || substr(md5(s), 1, 8))::BIGINT + (${b})[j+1])
       |   % ${Dedup.MINHASH_P}), 'min')""".stripMargin.replace("\n", "")
  }

  private[queries] val DOT =
    "list_reduce(list_transform(range(1, 65), i -> (A[i])::DOUBLE * (B[i])::DOUBLE), (x, y) -> x + y)"

  private[queries] def dot(a: String, b: String): String =
    DOT.replace("A[", a + "[").replace("B[", b + "[")

  /** Shared CTE chain for the q313/q314 oracles — the exact mirror of
    * [[graft.llm.Similarity.ivfSplitState]]: q305's frozen even-half
    * quantizer assigns the full corpus; cells breaching the rational
    * load threshold split by local 2-means (two lowest-vid member
    * seeds, one Lloyd round). Every sub-assignment cosine is built from
    * EXACT integer sums (BIGINT/HUGEINT here, long/decimal in Spark) so
    * DuckDB's unordered SUM and Spark's array folds cannot diverge;
    * HUGEINT→DOUBLE goes through VARCHAR (the q306 casting rule). */
  private[queries] def ivfSplitCtes(thrNum: Int, thrDen: Int): String = {
    def fp(v: String) =
      s"CAST(FLOOR(CAST($v AS DOUBLE) * 16777216 + 0.5) AS BIGINT)"
    def dotL(a: String, b: String) =
      s"list_reduce(list_transform(range(1, 65), i -> $a[i] * $b[i]), " +
        "(x, y) -> x + y)"
    s"""n AS (
       |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
       |  FROM embeddings),
       |o AS (SELECT * FROM n WHERE vec_id % 2 = 0),
       |cents AS (
       |  SELECT cent_id, c_emb, c_n2 FROM (
       |    SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2,
       |      ROW_NUMBER() OVER (ORDER BY vec_id) AS crn,
       |      COUNT(*) OVER () AS ccnt
       |    FROM o)
       |  WHERE crn <= CAST(ceil(sqrt(ccnt::DOUBLE)) AS BIGINT)),
       |lst AS (SELECT COUNT(*) AS l FROM cents),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT n.vec_id, cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |        ${dot("n.embedding", "cents.c_emb")} / sqrt(n.n2 * cents.c_n2)
       |          DESC, cent_id) AS rn
       |    FROM n CROSS JOIN cents)
       |  WHERE rn = 1),
       |byc AS (
       |  SELECT cents.cent_id AS cell, COUNT(asg.vec_id) AS n_total
       |  FROM cents LEFT JOIN asg ON asg.cell = cents.cent_id GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_total) AS BIGINT) AS nn FROM byc),
       |flag AS (
       |  SELECT cell, n_total FROM byc, tot, lst
       |  WHERE CAST(n_total AS HUGEINT) * l * $thrDen
       |      > CAST(nn AS HUGEINT) * $thrNum),
       |nf AS (SELECT COUNT(*) AS nsplit FROM flag),
       |mem AS (
       |  SELECT a.vec_id, a.cell,
       |    list_transform(range(1, 65), i -> ${fp("e.embedding[i]")}) AS mx
       |  FROM asg a JOIN flag USING (cell)
       |    JOIN embeddings e ON e.vec_id = a.vec_id),
       |mem2 AS (
       |  SELECT vec_id, cell, mx, ${dotL("mx", "mx")} AS mn2 FROM mem),
       |sr AS (
       |  SELECT cell, vec_id, mx, mn2,
       |    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) - 1 AS j
       |  FROM mem2),
       |s0 AS (SELECT cell, mx AS smx0, mn2 AS sn20 FROM sr WHERE j = 0),
       |s1 AS (SELECT cell, mx AS smx1, mn2 AS sn21 FROM sr WHERE j = 1),
       |sub1 AS (
       |  SELECT m.vec_id, m.cell, m.mx, m.mn2,
       |    CASE WHEN
       |      (${dotL("m.mx", "smx0")})::DOUBLE
       |        / sqrt(m.mn2::DOUBLE * sn20::DOUBLE)
       |      >= (${dotL("m.mx", "smx1")})::DOUBLE
       |        / sqrt(m.mn2::DOUBLE * sn21::DOUBLE)
       |    THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS j
       |  FROM mem2 m JOIN s0 USING (cell) JOIN s1 USING (cell)),
       |csum AS (
       |  SELECT cell, j, i.i AS d, CAST(SUM(mx[i.i]) AS HUGEINT) AS sv
       |  FROM sub1, unnest(range(1, 65)) AS i(i) GROUP BY 1, 2, 3),
       |cn2t AS (SELECT cell, j, SUM(sv * sv) AS cn2 FROM csum GROUP BY 1, 2),
       |red AS (
       |  SELECT s.vec_id, s.cell, s.mn2, c.j,
       |    SUM(CAST(s.mx[c.d] AS HUGEINT) * c.sv) AS dt
       |  FROM sub1 s JOIN csum c ON c.cell = s.cell GROUP BY 1, 2, 3, 4),
       |re AS (
       |  SELECT vec_id, cell,
       |    CASE WHEN COALESCE(c0e, -1e300) >= COALESCE(c1e, -1e300)
       |    THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS sub
       |  FROM (
       |    SELECT r.vec_id, r.cell,
       |      MAX(CASE WHEN r.j = 0 THEN CAST(CAST(r.dt AS VARCHAR) AS DOUBLE)
       |        / sqrt(r.mn2::DOUBLE * CAST(CAST(t.cn2 AS VARCHAR) AS DOUBLE))
       |        END) AS c0e,
       |      MAX(CASE WHEN r.j = 1 THEN CAST(CAST(r.dt AS VARCHAR) AS DOUBLE)
       |        / sqrt(r.mn2::DOUBLE * CAST(CAST(t.cn2 AS VARCHAR) AS DOUBLE))
       |        END) AS c1e
       |    FROM red r JOIN cn2t t ON t.cell = r.cell AND t.j = r.j
       |    GROUP BY 1, 2)),
       |asg2 AS (
       |  SELECT a.vec_id, a.cell, COALESCE(re.sub, CAST(0 AS BIGINT)) AS sub
       |  FROM asg a LEFT JOIN re ON re.vec_id = a.vec_id
       |    AND re.cell = a.cell)""".stripMargin
  }

  /** Shared CTE chain for the q154/q159 kNN-graph oracles: q83's
    * deterministic ceil(sqrt(N)) cell assignment, then within-cell
    * neighbor ranking on the raw IEEE cosine with nbr_id tie-break —
    * mirrors [[graft.llm.Similarity.knnGraph]]. */
  private[queries] lazy val knnGraphCtes: String =
    s"""n AS (
       |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
       |  FROM embeddings),
       |cents AS (
       |  SELECT cent_id, c_emb, c_n2 FROM (
       |    SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2,
       |      ROW_NUMBER() OVER (ORDER BY vec_id) AS crn,
       |      COUNT(*) OVER () AS ccnt
       |    FROM n)
       |  WHERE crn <= CAST(ceil(sqrt(ccnt::DOUBLE)) AS BIGINT)),
       |ranked AS (
       |  SELECT n.vec_id, cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${dot("n.embedding", "cents.c_emb")} / sqrt(n.n2 * cents.c_n2) DESC,
       |               cent_id) AS rn
       |  FROM n CROSS JOIN cents),
       |cells AS (SELECT vec_id AS id, cent_id AS cell FROM ranked WHERE rn = 1),
       |prs AS (
       |  SELECT ca.id, cb.id AS nbr_id,
       |    ${dot("a.embedding", "b.embedding")} / sqrt(a.n2 * b.n2) AS c
       |  FROM cells ca JOIN cells cb ON ca.cell = cb.cell AND ca.id <> cb.id
       |  JOIN n a ON a.vec_id = ca.id
       |  JOIN n b ON b.vec_id = cb.id),
       |rk AS (
       |  SELECT id, nbr_id, c,
       |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, nbr_id) AS nbr_rank
       |  FROM prs)""".stripMargin

  /** q26's full SELECT (doc_id, pred_lang, per-language stopword scores) —
    * also the `lang` CTE of q71. */
  private[queries] lazy val langSelectSql: String = {
    val langs = TextAnalysis.stopwords
    val scores = langs.map { case (l, ws) =>
      s"len(list_filter(w, x -> x IN (${ws.map(x => s"'$x'").mkString(", ")}))) AS s_$l"
    }.mkString(",\n  ")
    val caseArms = langs.map(_._1).map { l =>
      val geq = langs.map(_._1).filterNot(_ == l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN s_$l > 0 AND $geq THEN '$l'"
    }.mkString("\n  ")
    s"""SELECT doc_id, CASE $caseArms ELSE 'und' END AS pred_lang,
       |  s_en, s_fr, s_es, s_de
       |FROM (SELECT doc_id, $scores
       |      FROM (SELECT doc_id, $WORDS AS w FROM documents))""".stripMargin
  }

  /** q27's full SELECT — also the `qual` CTE of q71. */
  /** q133's full Gopher-rule SELECT (per-doc ratios + keep), shared with
    * the q208 filter-agreement oracle. */
  private[queries] lazy val gopherSelectSql: String = {
    val en = TextAnalysis.stopwords.head._2.map(x => s"'$x'").mkString(", ")
    s"""SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
       |  ellipsis_ratio, alpha_ratio, n_stop_distinct,
       |  COALESCE(n_words BETWEEN 10 AND 100000
       |    AND mean_word_len BETWEEN 3.0 AND 10.0
       |    AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
       |    AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8
       |    AND n_stop_distinct >= 2, false) AS keep
       |FROM (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
       |    CASE WHEN len(w) > 0 THEN ROUND(
       |      CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
       |        / len(w), 6) END AS mean_word_len,
       |    CASE WHEN len(w) > 0 THEN ROUND(
       |      ((length(text) - length(replace(text, '#', '')))
       |        + (length(text) - length(replace(text, '...', ''))) / 3)
       |        / len(w), 6) END AS symbol_ratio,
       |    CASE WHEN len(lines) > 0 THEN ROUND(
       |      len(list_filter(lines, l -> starts_with(l, '- ')
       |        OR starts_with(l, '* ') OR starts_with(l, '•')))::DOUBLE
       |        / len(lines), 6) END AS bullet_ratio,
       |    CASE WHEN len(lines) > 0 THEN ROUND(
       |      len(list_filter(lines, l -> ends_with(l, '...')))::DOUBLE
       |        / len(lines), 6) END AS ellipsis_ratio,
       |    CASE WHEN len(w) > 0 THEN ROUND(
       |      len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::DOUBLE
       |        / len(w), 6) END AS alpha_ratio,
       |    CAST(len(list_intersect(list_distinct(w), [$en])) AS BIGINT)
       |      AS n_stop_distinct
       |  FROM (SELECT doc_id, text, $WORDS AS w,
       |    list_filter(string_split(text, chr(10)), l -> l <> '') AS lines
       |    FROM documents))""".stripMargin
  }

  private[queries] lazy val qualitySelectSql: String = {
    val en = TextAnalysis.stopwords.head._2.map(x => s"'$x'").mkString(", ")
    s"""SELECT doc_id, n_words, n_unique,
       |  ROUND(n_unique::DOUBLE / n_words, 6) AS uniq_ratio,
       |  ROUND(sum_len::DOUBLE / n_words, 6) AS avg_word_len,
       |  ROUND(n_stop::DOUBLE / n_words, 6) AS stop_ratio,
       |  ROUND(0.4 * ROUND(n_unique::DOUBLE / n_words, 6)
       |      + 0.3 * LEAST(n_words::DOUBLE / 50.0, 1.0)
       |      + 0.3 * (1.0 - ROUND(n_stop::DOUBLE / n_words, 6)), 6) AS quality_score
       |FROM (
       |  SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_unique,
       |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len,
       |    len(list_filter(w, x -> x IN ($en))) AS n_stop
       |  FROM (SELECT doc_id, $WORDS AS w FROM documents))""".stripMargin
  }

  /** Shared CTE chain (shingles → minhash → LSH candidates → verified
    * pairs at threshold 0.3 → symmetric edges → recursive transitive
    * closure → `comp(doc_id, cluster_id)`), used by q69 and q71. Must sit
    * under a WITH RECURSIVE header. */
  /** q76's full BM25 SELECT (doc_id, dl, per-term tfs, score > 0) —
    * also the lexical leg of the q163 fusion oracle. */
  private[queries] lazy val bm25Sql: String = {
    val ts = Bm25Terms
    val tfCols = ts.indices.map(i =>
      s"CAST(SUM(CASE WHEN word = '${ts(i)}' THEN 1 ELSE 0 END) AS BIGINT) AS tf$i")
      .mkString(",\n  ")
    val dfCols = ts.indices.map(i =>
      s"COUNT(DISTINCT CASE WHEN word = '${ts(i)}' THEN doc_id END) AS df$i")
      .mkString(", ")
    val contribs = ts.indices.map(i =>
      s"""ROUND(ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)), 6)
         | * (tf$i::DOUBLE * (1.2 + 1.0))
         | / (tf$i::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE / avgdl))"""
        .stripMargin.replace("\n", ""))
      .mkString(" + ")
    val outTfs = ts.indices.map(i => s"tf$i AS tf_${ts(i)}").mkString(", ")
    s"""WITH wr AS (SELECT doc_id, unnest($WORDS) AS word FROM documents),
       |pd AS (SELECT doc_id, COUNT(*) AS dl,
       |  $tfCols
       |  FROM wr GROUP BY 1),
       |ts AS (SELECT $dfCols FROM wr),
       |c AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM pd)
       |SELECT doc_id, dl, $outTfs, score FROM (
       |  SELECT doc_id, dl, ${ts.indices.map(i => s"tf$i").mkString(", ")},
       |    ROUND($contribs, 6) AS score
       |  FROM pd CROSS JOIN ts CROSS JOIN c
       |       CROSS JOIN (SELECT sum_dl::DOUBLE / n AS avgdl FROM c) a)
       |WHERE score > 0""".stripMargin
  }

  /** The candidate prefix of [[textClusterCtes]] (shingles → minhash →
    * LSH band self-join candidates), shared with the q164 audit. */
  private[queries] lazy val lshCandCtes: String =
    s"""sh AS (
       |  SELECT doc_id, ${shinglesSql(3)} AS shingles
       |  FROM (SELECT doc_id, $WORDS AS w FROM documents)),
       |sig AS (
       |  SELECT doc_id, shingles,
       |    list_transform(range(0, 8), j -> $MINHASH_SQL) AS mh
       |  FROM sh WHERE len(shingles) > 0),
       |bands AS (
       |  SELECT doc_id, b AS band_idx,
       |    mh[2*b+1] * 2147483648 + mh[2*b+2] AS band_key
       |  FROM sig, unnest(range(0, 4)) AS t(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |  WHERE a.doc_id < b.doc_id)""".stripMargin

  private[queries] lazy val textClusterCtes: String =
    s"""$lshCandCtes,
       |pairs AS (
       |  SELECT id_a, id_b FROM cand
       |  JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
       |  WHERE ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
       |    / len(list_distinct(sa.shingles || sb.shingles)), 6) >= 0.3),
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |comp AS (
       |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
       |  FROM reach GROUP BY u)""".stripMargin

  /** Shared CTE chain mirroring Similarity.kMeans(k=8, iters=2): seed
    * centroids = 8 lowest ids (cluster = seed rank), assignment by
    * unrounded squared Euclidean distance (same IEEE op order as the
    * Spark plan: (n2 + c_n2) - (2 * fold-dot)), centroid update = mean of
    * 6-digit-quantized coordinates through exact DECIMAL(24,6). Used by
    * q87 and q88. */
  private[queries] lazy val kmeansCtes: String = {
    def assignCte(name: String, cents: String) =
      s"""$name AS (
         |  SELECT vec_id, cluster, d2 FROM (
         |    SELECT n.vec_id, c.cluster,
         |      n.n2 + c.c_n2 - 2.0 * ${dot("n.embedding", "c.c_emb")} AS d2,
         |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
         |        n.n2 + c.c_n2 - 2.0 * ${dot("n.embedding", "c.c_emb")},
         |        c.cluster) AS rn
         |    FROM n CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    s"""n AS (
       |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
       |  FROM embeddings),
       |cents0 AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster,
       |    list_transform(embedding, x -> x::DOUBLE) AS c_emb, n2 AS c_n2
       |  FROM n ORDER BY vec_id LIMIT 8),
       |${assignCte("a1", "cents0")},
       |m1 AS (
       |  SELECT cluster, pos,
       |    ROUND(CAST(SUM(CAST(ROUND(embedding[pos]::DOUBLE, 6)
       |      AS DECIMAL(24,6))) AS DOUBLE) / COUNT(*), 6) AS m
       |  FROM a1 JOIN n USING (vec_id), unnest(range(1, 65)) AS t(pos)
       |  GROUP BY 1, 2),
       |cents1 AS (
       |  SELECT cluster, list(m ORDER BY pos) AS c_emb,
       |    list_reduce(list_transform(list(m ORDER BY pos), x -> x * x),
       |      (x, y) -> x + y) AS c_n2
       |  FROM m1 GROUP BY cluster),
       |${assignCte("a2", "cents1")}""".stripMargin
  }

  /** CTE chain mirroring Similarity.productQuantize(m=8, k=16, iters=2):
    * the kMeans conventions applied per subspace — subvector view with
    * its own n2 fold, per-sub first-16-by-id seeds, two assignments with
    * a BINARY-quantized (floor(x*2^20)/2^20) centroid mean between them:
    * the double sum of 2^-20 multiples is exact in any order, so the
    * centroids — and therefore every d2 — are bit-identical across
    * engines with no rounding anywhere in the query. */
  /** d-element left-to-right dot fold (the sub-dimensional [[DOT]]). */
  private[queries] def dotSub(a: String, b: String, d: Int = 8) =
    s"list_reduce(list_transform(range(1, ${d + 1}), " +
      s"i -> ($a[i])::DOUBLE * ($b[i])::DOUBLE), (x, y) -> x + y)"

  /** PQ training tail (cents0 → a1 → m1 → cents1 → a2): expects a CTE
    * `subn(vec_id, sub, e, n2)` of per-subspace double vectors upstream —
    * shared verbatim by the flat-PQ chain (q112/q113, subvectors of the
    * raw embeddings) and the IVF-PQ chain (q114/q115, subvectors of the
    * coarse-cell residuals). */
  private[queries] def pqTrainTail(d: Int = 8, k: Int = 16): String = {
    def assignCte(name: String, cents: String) =
      s"""$name AS (
         |  SELECT vec_id, sub, cluster, d2 FROM (
         |    SELECT n.vec_id, n.sub, c.cluster,
         |      n.n2 + c.c_n2 - 2.0 * ${dotSub("n.e", "c.c_emb")} AS d2,
         |      ROW_NUMBER() OVER (PARTITION BY n.vec_id, n.sub ORDER BY
         |        n.n2 + c.c_n2 - 2.0 * ${dotSub("n.e", "c.c_emb")},
         |        c.cluster) AS rn
         |    FROM subn n JOIN $cents c USING (sub)) WHERE rn = 1)""".stripMargin
    s"""cents0 AS (
       |  SELECT sub, cluster, e AS c_emb, n2 AS c_n2 FROM (
       |    SELECT sub, ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) - 1
       |      AS cluster, e, n2
       |    FROM subn) WHERE cluster < $k),
       |${assignCte("a1", "cents0")},
       |m1 AS (
       |  SELECT a1.sub, cluster, pos,
       |    SUM(floor(e[pos] * 1048576.0) / 1048576.0) / COUNT(*) AS mn
       |  FROM a1 JOIN subn n ON a1.vec_id = n.vec_id AND a1.sub = n.sub,
       |       unnest(range(1, ${d + 1})) AS t(pos)
       |  GROUP BY 1, 2, 3),
       |cents1 AS (
       |  SELECT sub, cluster, list(mn ORDER BY pos) AS c_emb,
       |    list_reduce(list_transform(list(mn ORDER BY pos), x -> x * x),
       |      (x, y) -> x + y) AS c_n2
       |  FROM m1 GROUP BY sub, cluster),
       |${assignCte("a2", "cents1")}""".stripMargin
  }

  private[queries] lazy val pqCtes: String = {
    val m = 8; val d = 8
    s"""sub AS (
       |  SELECT vec_id, s.sub,
       |    list_transform(embedding[s.sub * $d + 1 : s.sub * $d + $d],
       |      x -> x::DOUBLE) AS e
       |  FROM embeddings, (SELECT unnest(range(0, $m)) AS sub) s),
       |subn AS (SELECT vec_id, sub, e, ${dotSub("e", "e")} AS n2 FROM sub),
       |${pqTrainTail()}""".stripMargin
  }

  /** IVF-PQ chain: q89's coarse quantizer (n/cents/ranked/cellsr), full-
    * vector residuals vs the assigned cell centroid, then [[pqTrainTail]]
    * over residual subvectors. Residuals subtract in DOUBLE (floats widen
    * exactly), mirroring the engine's zip_with. */
  /** Shared by q81 (plain) and q118 (Bloom-pre-filtered): the pre-filter
    * is result-invariant, so both queries verify against one SQL. */
  private[queries] lazy val decontamSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5('split1' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |      % 1000 < 900 AS is_train,
       |    unnest(${shinglesSql(5)}) AS shingle
       |  FROM (SELECT doc_id, $WORDS AS w FROM documents)),
       |tr AS (SELECT shingle, doc_id AS tid FROM sh WHERE is_train),
       |te AS (SELECT doc_id, shingle FROM sh WHERE NOT is_train)
       |SELECT doc_id, COUNT(DISTINCT shingle) AS n_shared_shingles,
       |  COUNT(DISTINCT tid) AS n_train_docs
       |FROM te JOIN tr USING (shingle)
       |GROUP BY 1""".stripMargin

  private[queries] def ivfPqCtes(cut: Int = 5): String = {
    val m = 8; val d = 8
    s"""n AS (
       |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
       |  FROM embeddings),
       |cents AS (
       |  SELECT cent_id, c_emb, c_n2 FROM (
       |    SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2,
       |      ROW_NUMBER() OVER (ORDER BY vec_id) AS crn,
       |      COUNT(*) OVER () AS ccnt
       |    FROM n)
       |  WHERE crn <= CAST(ceil(sqrt(ccnt::DOUBLE)) AS BIGINT)),
       |ranked AS (
       |  SELECT n.vec_id, cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${dot("n.embedding", "cents.c_emb")} / sqrt(n.n2 * cents.c_n2) DESC,
       |               cent_id) AS rn
       |  FROM n CROSS JOIN cents),
       |cellsr AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE rn = 1),
       |resid AS (
       |  SELECT n.vec_id, cl.cell,
       |    list_transform(range(1, ${m * d + 1}),
       |      i -> (n.embedding[i])::DOUBLE - (c.c_emb[i])::DOUBLE) AS r
       |  FROM n JOIN cellsr cl ON n.vec_id = cl.vec_id
       |       JOIN cents c ON cl.cell = c.cent_id),
       |sub AS (
       |  SELECT vec_id, s.sub, r[s.sub * $d + 1 : s.sub * $d + $d] AS e
       |  FROM resid, (SELECT unnest(range(0, $m)) AS sub) s),
       |subn AS (SELECT vec_id, sub, e, ${dotSub("e", "e")} AS n2 FROM sub),
       |${pqTrainTail()},
       |probes AS (
       |  SELECT vec_id AS query_id, cent_id AS cell
       |  FROM ranked WHERE rn <= 4 AND vec_id < 20),
       |qresid AS (
       |  SELECT p.query_id, p.cell,
       |    list_transform(range(1, ${m * d + 1}),
       |      i -> (n.embedding[i])::DOUBLE - (c.c_emb[i])::DOUBLE) AS qr
       |  FROM probes p JOIN n ON p.query_id = n.vec_id
       |       JOIN cents c ON p.cell = c.cent_id),
       |qsubn AS (
       |  SELECT query_id, cell, sub, qe, ${dotSub("qe", "qe")} AS qn2 FROM (
       |    SELECT query_id, cell, s.sub,
       |      qr[s.sub * $d + 1 : s.sub * $d + $d] AS qe
       |    FROM qresid, (SELECT unnest(range(0, $m)) AS sub) s)),
       |lut AS (
       |  SELECT query_id, cell, q.sub, c.cluster AS code,
       |    floor((qn2 + c.c_n2 - 2.0 * ${dotSub("q.qe", "c.c_emb")})
       |      * 1048576.0) / 1048576.0 AS term
       |  FROM qsubn q JOIN cents1 c USING (sub)),
       |scores AS (
       |  SELECT l.query_id, a.vec_id AS cand_id, SUM(term) AS adc
       |  FROM a2 a JOIN cellsr cl ON a.vec_id = cl.vec_id
       |       JOIN lut l ON cl.cell = l.cell AND a.sub = l.sub
       |            AND a.cluster = l.code
       |  WHERE l.query_id <> a.vec_id
       |  GROUP BY 1, 2),
       |ivfpq AS (
       |  SELECT query_id, cand_id, adc, rnk FROM (
       |    SELECT query_id, cand_id, adc,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, cand_id)
       |        AS rnk
       |    FROM scores) WHERE rnk <= $cut)""".stripMargin
  }

  def oracleSql: Map[String, String] =
    LlmDedupQueries.oracleSql ++ LlmSimilarityQueries.oracleSql ++
      LlmTextQueries.oracleSql ++ LlmGovernanceQueries.oracleSql

  /** Shared CTE chain for q191/q192: the fixed-point covariance Gramian
    * plus 9 power iterations unrolled as list_reduce CTEs — every fold
    * index-ascending with first-element seed, the exact order of
    * [[graft.llm.EmbeddingOps]]'s driver loops, so the doubles match
    * bit-for-bit. */
  private[queries] lazy val topPcCtes: String = {
    val QQ = "16777216.0 * 16777216.0"
    val iter = (k: Int) =>
      s"""w$k AS (
         |  SELECT list_transform(range(1, 65), i ->
         |    list_reduce(list_transform(range(1, 65), j -> m[i][j] * v[j]),
         |      (a, b) -> a + b)) AS w
         |  FROM v${k - 1}, cm),
         |v$k AS (
         |  SELECT list_transform(w, x -> x / lam) AS v, lam FROM (
         |    SELECT w, list_reduce(list_transform(w, x -> abs(x)),
         |      (a, b) -> GREATEST(a, b)) AS lam FROM w$k))""".stripMargin
    s"""s AS (
       |  SELECT list_transform(embedding, x ->
       |    CAST(FLOOR(CAST(x AS DOUBLE) * 16777216 + 0.5) AS BIGINT)) AS s
       |  FROM embeddings),
       |cells AS (
       |  SELECT ii.i AS i, jj.j AS j, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CAST(s.s[ii.i] * s.s[jj.j] AS DECIMAL(38,0)))
       |      AS DECIMAL(38,0)) AS ss
       |  FROM s, unnest(range(1, 65)) AS ii(i), unnest(range(1, 65)) AS jj(j)
       |  GROUP BY 1, 2),
       |sums AS (
       |  SELECT ii.i AS k, CAST(SUM(CAST(s.s[ii.i] AS DECIMAL(38,0)))
       |    AS DECIMAL(38,0)) AS sk
       |  FROM s, unnest(range(1, 65)) AS ii(i) GROUP BY 1),
       |cov AS (
       |  SELECT i, j,
       |    CAST(CAST(n * ss - a.sk * b.sk AS VARCHAR) AS DOUBLE) /
       |      (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) * ($QQ)) AS cov
       |  FROM cells JOIN sums a ON a.k = i JOIN sums b ON b.k = j),
       |cm AS (
       |  SELECT list(l ORDER BY i) AS m FROM (
       |    SELECT i, list(cov ORDER BY j) AS l FROM cov GROUP BY i)),
       |v0 AS (SELECT list_transform(range(1, 65), x -> 1.0::DOUBLE) AS v FROM cm),
       |${(1 to 9).map(iter).mkString(",\n")},
       |tr AS (
       |  SELECT list_reduce(list_transform(range(1, 65), d -> m[d][d]),
       |    (a, b) -> a + b) AS trace
       |  FROM cm)""".stripMargin
  }

  private[queries] lazy val topPcSql: String =
    s"""WITH $topPcCtes
       |SELECT CAST(i.i - 1 AS INT) AS pos, v[i.i] AS loading,
       |  lam AS eigenvalue, lam / trace AS explained_frac
       |FROM v9, tr, unnest(range(1, 65)) AS i(i)""".stripMargin

  /** q192's oracle: All-but-the-Top over the q191 chain — unit top
    * direction, string-routed exact means, and the same distributed-dot
    * identities (uᵀ(x−μ) = uᵀx − uᵀμ; ‖x−μ‖² = xᵀx − 2xᵀμ + μᵀμ) in the
    * same parenthesization as the Spark expression tree. */
  private[queries] lazy val abttSql: String =
    s"""WITH $topPcCtes,
       |unit AS (
       |  SELECT list_transform(v, x -> x / l2) AS u FROM (
       |    SELECT v, sqrt(list_reduce(list_transform(v, x -> x * x),
       |      (a, b) -> a + b)) AS l2 FROM v9)),
       |nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |mu AS (
       |  SELECT list(CAST(CAST(sk AS VARCHAR) AS DOUBLE)
       |      / (CAST(n AS DOUBLE) * 16777216.0) ORDER BY k) AS mu
       |  FROM sums, nn),
       |consts AS (
       |  SELECT
       |    list_reduce(list_transform(range(1, 65), k -> mu[k] * u[k]),
       |      (a, b) -> a + b) AS c0,
       |    list_reduce(list_transform(range(1, 65), k -> mu[k] * mu[k]),
       |      (a, b) -> a + b) AS cmm
       |  FROM mu, unit),
       |rowdots AS (
       |  SELECT vec_id,
       |    ${dot("embedding", "embedding")} AS xx,
       |    list_reduce(list_transform(range(1, 65),
       |      k -> CAST(embedding[k] AS DOUBLE) * u[k]), (a, b) -> a + b) AS ux,
       |    list_reduce(list_transform(range(1, 65),
       |      k -> CAST(embedding[k] AS DOUBLE) * mu[k]), (a, b) -> a + b) AS xmu
       |  FROM embeddings, unit, mu)
       |SELECT vec_id, ux - c0 AS pc1_coef,
       |  ((xx - 2.0::DOUBLE * xmu) + cmm) - (ux - c0) * (ux - c0) AS resid_sq
       |FROM rowdots, consts""".stripMargin

  /** q195's oracle: the Gonzalez farthest-point greedy unrolled — round r
    * scores every unchosen vector's MAX cosine against the r−1 chosen
    * rows (the same raw IEEE dot folds) and picks the minimum, ties to
    * the lower id, mirroring [[graft.llm.EmbeddingOps.kCenterCoreset]]'s
    * literal-center map + global min_by pass. Every CTE is
    * `AS MATERIALIZED`: each `chK` is read three times by the next round
    * (cross join, `NOT IN`, `UNION ALL`), and an inlined chain re-derives
    * every earlier round at each read (minutes at sf0.01 instead of a
    * fraction of a second). */
  private[queries] lazy val kCenterSql: String = {
    val round = (r: Int) =>
      s"""sel$r AS MATERIALIZED (
         |  SELECT x.vec_id, x.embedding, x.n2,
         |    MAX(${dot("x.embedding", "c.embedding")}
         |      / sqrt(x.n2 * c.n2)) AS mc,
         |    CAST($r AS BIGINT) AS sel_rank
         |  FROM n x, ch${r - 1} c
         |  WHERE x.vec_id NOT IN (SELECT vec_id FROM ch${r - 1})
         |  GROUP BY x.vec_id, x.embedding, x.n2
         |  ORDER BY mc, x.vec_id LIMIT 1),
         |ch$r AS MATERIALIZED (SELECT * FROM ch${r - 1} UNION ALL
         |         SELECT vec_id, embedding, n2, mc, sel_rank FROM sel$r)"""
        .stripMargin
    s"""WITH n AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
       |  FROM embeddings),
       |ch1 AS MATERIALIZED (
       |  SELECT vec_id, embedding, n2, NULL::DOUBLE AS mc,
       |    CAST(1 AS BIGINT) AS sel_rank
       |  FROM n ORDER BY vec_id LIMIT 1),
       |${(2 to 8).map(round).mkString(",\n")}
       |SELECT sel_rank, vec_id, mc AS max_cos FROM ch8""".stripMargin
  }

  /** Banded sign-bit keys mirroring VectorOps.bandDims(4, 8, 64): one row
    * per (vec_id, band_idx) with the band's 8-bit key. */
  private[queries] def bandKeysSql: String =
    (0 until 4).map { j =>
      val key = (0 until 8).map(k =>
        s"CASE WHEN embedding[${(j * 8 + k) * 2 + 1}] > 0 THEN ${1 << k} ELSE 0 END")
        .mkString(" + ")
      s"SELECT vec_id, $j AS bi, $key AS bk FROM embeddings"
    }.mkString("\n  UNION ALL ")
}
