package graft.llm

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Byte-pair-encoding tokenizer training and application (Sennrich,
  * Haddow & Birch 2016, "Neural Machine Translation of Rare Words with
  * Subword Units" — the published algorithm, not any specific library's
  * implementation).
  *
  * Training never touches the corpus after the first scan: merges are
  * learned over the DISTINCT-WORD table weighted by word count (the
  * standard formulation — pair statistics over word types x frequency),
  * so a 100 TB corpus pays exactly one word-count shuffle and every one
  * of the `numMerges` iterations runs on the bounded vocabulary table.
  * Each iteration is one pair-count hash aggregate (map-side partials on
  * the pair key) + a driver-side top-1; the symbol rewrite is a pure
  * codegen'd fold. Vocabulary state is re-materialized as a flat
  * LogicalRDD per round (a plan that nests per-iteration grows Catalyst
  * stats multiplicatively).
  *
  * Determinism contract (the oracle-parity requirement): pair counts are
  * exact long sums; ties break on (count DESC, left ASC, right ASC);
  * merges apply greedily left-to-right within a word (a fold — "aaa"
  * under (a,a) becomes [aa, a]); encoding applies the learned merges
  * sequentially in rank order with the same fold, which reproduces the
  * training-time segmentation exactly. Words are [[TextOps.words]]
  * (lowercased, space-split); symbols start as single characters with no
  * end-of-word marker (documented deviation from Sennrich's `</w>`; the
  * marker only matters when detokenizing, which this table never does).
  */
object Bpe {

  /** One learned merge: rank (1-based), the adjacent pair, its weighted
    * count at merge time. */
  final case class Merge(rank: Long, left: String, right: String, pairCnt: Long)

  /** Empty array<string> literal (array() alone types as array<null>). */
  private def emptyStrings: Column = slice(array(lit("")), 1, 0)

  /** Greedy left-to-right single-merge fold: every non-overlapping
    * occurrence of (left, right) collapses to left+right in one pass. */
  private[llm] def applyMergeExpr(symbols: Column, left: String, right: String): Column =
    aggregate(symbols, emptyStrings, (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(left) && x === lit(right),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(left + right))))
        .otherwise(concat(acc, array(x))))

  /** Learn `numMerges` merges from the corpus. Stops early when no
    * adjacent pair reaches `minCount`. */
  /** Word-type count at or below which training runs driver-side on the
    * collected vocabulary (a few MB of (word, count) pairs; every merge
    * iteration then costs microseconds instead of a Spark job). The
    * distributed loop above the gate is the web-corpus path — same
    * size-gating pattern as the graph loops' node gate,
    * `GraphLoop.DriverMaxNodes`.
    * BOTH paths share one symbol definition (Unicode code points — what
    * Spark's `substr`/`length` count) and one tie collation (UTF-8 byte
    * order — what Spark's binary string comparison uses), so the learned
    * merge list is independent of which side of the gate the vocabulary
    * lands on, emoji and all supplementary-plane text included. */
  val LocalVocabMaxTypes = 1000000L

  /** Split into Unicode code points — the JVM mirror of the distributed
    * path's `substr(word, i, 1)` (Spark counts code points, not UTF-16
    * units), so "a💯b" is 3 symbols on both paths. */
  private[llm] def codepoints(w: String): Array[String] = {
    val out = new ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** UTF-8 unsigned-byte order — the JVM mirror of Spark's binary string
    * comparison, which differs from Scala's UTF-16 `String` order exactly
    * on supplementary-plane characters (surrogates sort above U+E000 in
    * UTF-16 but below in UTF-8). */
  private[llm] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  def learnMerges(docs: DataFrame, textCol: String, numMerges: Int,
      minCount: Long = 2L): Seq[Merge] = {
    require(numMerges >= 1 && minCount >= 1)
    val spark = docs.sparkSession

    val wordCounts = docs
      .select(explode(TextOps.words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

    // ONE corpus scan decides the gate AND feeds the local path: collect
    // at most LocalVocabMaxTypes+1 rows — a full result means the
    // vocabulary fits (use it directly), an overflowing one means the
    // distributed loop runs (which re-aggregates anyway, so nothing is
    // wasted beyond the probe).
    val gateRows = wordCounts.limit(LocalVocabMaxTypes.toInt + 1).collect()
    if (gateRows.length <= LocalVocabMaxTypes) {
      val wc = gateRows.map(r => (r.getString(0), r.getLong(1)))
      var syms: Array[(Array[String], Long)] =
        wc.map { case (w, c) => (codepoints(w), c) }
      val merges = ArrayBuffer.empty[Merge]
      var done = false
      var rank = 1
      while (!done && rank <= numMerges) {
        val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
        syms.foreach { case (s, c) =>
          var i = 0
          while (i < s.length - 1) {
            val k = (s(i), s(i + 1))
            pc.update(k, pc.getOrElse(k, 0L) + c)
            i += 1
          }
        }
        // Top-1 by (count DESC, l, r) with ties in UTF-8 byte order — the
        // exact collation of the distributed path's orderBy.
        val best = pc.reduceOption[((String, String), Long)] {
          case (a @ ((al, ar), ac), b @ ((bl, br), bc)) =>
            if (bc > ac) b
            else if (bc < ac) a
            else if (utf8Lt(bl, al) || (bl == al && utf8Lt(br, ar))) b
            else a
        }
        best match {
          case Some(((l, r), c)) if c >= minCount =>
            merges += Merge(rank.toLong, l, r, c)
            syms = syms.map { case (s, cc) => (applyMerge(s, l, r), cc) }
            rank += 1
          case _ => done = true
        }
      }
      return merges.toSeq
    }

    val charsOf = transform(
      sequence(lit(1), length(col("word"))),
      i => substr(col("word"), i, lit(1)))
    var vocab = wordCounts.select(charsOf.as("syms"), col("cnt"))

    val cached = ArrayBuffer.empty[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
    def materialize(df: DataFrame): DataFrame = {
      val rdd = df.rdd.cache()
      cached += rdd
      spark.createDataFrame(rdd, df.schema)
    }
    vocab = materialize(vocab)

    // sequence(0, size-2) DESCENDS when size < 2 — guard to an empty list
    val adjacentPairs = when(size(col("syms")) >= 2,
      transform(sequence(lit(0), size(col("syms")) - 2),
        i => struct(
          element_at(col("syms"), (i + 1).cast("int")).as("l"),
          element_at(col("syms"), (i + 2).cast("int")).as("r"))))
      .otherwise(slice(array(struct(lit("").as("l"), lit("").as("r"))), 1, 0))

    val merges = ArrayBuffer.empty[Merge]
    var done = false
    var rank = 1
    while (!done && rank <= numMerges) {
      val top = vocab
        .select(explode(adjacentPairs).as("p"), col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty || top.head.getLong(2) < minCount) done = true
      else {
        val (l, r, c) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += Merge(rank.toLong, l, r, c)
        vocab = materialize(vocab.withColumn("syms", applyMergeExpr(col("syms"), l, r)))
        rank += 1
      }
    }
    cached.foreach(_.unpersist(false))
    merges.toSeq
  }

  /** The learned merge table as a DataFrame (rank, left, right, pair_cnt). */
  def learn(docs: DataFrame, textCol: String, numMerges: Int,
      minCount: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    learnMerges(docs, textCol, numMerges, minCount)
      .map(m => (m.rank, m.left, m.right, m.pairCnt))
      .toDF("rank", "left", "right", "pair_cnt")
  }

  /** JVM mirror of [[applyMergeExpr]], used on the encode path. */
  private[llm] def applyMerge(syms: Array[String], left: String, right: String): Array[String] = {
    val out = ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (out.nonEmpty && out.last == left && syms(i) == right) {
        out(out.length - 1) = left + right
      } else out += syms(i)
      i += 1
    }
    out.toArray
  }

  /** 60-bit-free portable token hash: first 8 hex chars of md5 (== the
    * unsigned big-endian int of the first 4 digest bytes), mod
    * [[TextOps.FP_MOD]] — the same arithmetic as
    * [[TextOps.rollingFingerprint]], computed on the JVM directly from
    * the digest bytes (the hex-string round-trip was the q166 hot spot:
    * millions of `String.format` calls). */
  private def tokenHash(md: java.security.MessageDigest, t: String): Long = {
    val d = md.digest(t.getBytes("UTF-8"))
    ((((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) % TextOps.FP_MOD)
  }

  /** Encode every document with a learned merge list: merges apply in
    * rank order, each as the greedy fold — identical segmentation to the
    * training-time vocabulary state. Broadcast merge table, map-only,
    * zero shuffle (the billion-document shape: the merge list is a few
    * KB regardless of corpus size). Output keeps the full token stream
    * compressed to an order-sensitive rolling fingerprint plus the first
    * 10 tokens for human inspection. */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toArray)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ms = bc.value
        val md = java.security.MessageDigest.getInstance("MD5")
        // Per-partition memos: the word→tokens segmentation and the token
        // hash are pure functions of bounded-vocabulary inputs, so both
        // caches stay small while cutting the per-row work to lookups —
        // the standard BPE-encoder word cache (every production encoder
        // carries one; a corpus has vastly more word OCCURRENCES than
        // word TYPES).
        val wordCache = new java.util.HashMap[String, Array[String]]()
        val hashCache = new java.util.HashMap[String, java.lang.Long]()
        def tokensOf(w: String): Array[String] = {
          val hit = wordCache.get(w)
          if (hit != null) hit
          else {
            var syms = codepoints(w)
            ms.foreach { case (l, r) => syms = applyMerge(syms, l, r) }
            wordCache.put(w, syms)
            syms
          }
        }
        def th(t: String): Long = {
          val hit = hashCache.get(t)
          if (hit != null) hit.longValue()
          else {
            val h = tokenHash(md, t)
            hashCache.put(t, h)
            h
          }
        }
        it.map { case (id, text) =>
          val words = Option(text).getOrElse("").toLowerCase
            .split(' ').filter(_.nonEmpty)
          var nTok = 0L
          var fp = 0L
          val head = ArrayBuffer.empty[String]
          words.foreach { w =>
            val syms = tokensOf(w)
            syms.foreach { t =>
              nTok += 1
              fp = (fp * 31L + th(t)) % TextOps.FP_MOD
              if (head.length < 10) head += t
            }
          }
          (id, words.length.toLong, nTok, head.mkString("|"), fp)
        }
      }
      .toDF(idCol, "n_words", "n_tokens", "tokens_head", "tokens_fp")
  }
}
