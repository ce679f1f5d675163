package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded document corpus in the harness `documents` schema
  * (doc_id, text, lang, source, n_chars), built the way GenScale
  * scales it: a base of `baseDocs` documents (30–60 tokens from a
  * 40-word vocabulary like the harness's), fanned out into copies whose
  * texts carry a per-copy suffix token " c<k>".
  *
  * Ids are hash-assigned (a keyed hash of copy and base index), so the
  * batch's keys spread over the whole key range, as crawl ids do.
  * Copy 0 is the store and copy 1 the batch, so the batch holds no two
  * fan-out copies of one base document.
  *
  * The batch carries `planted` rows of each kind at recorded ids:
  *   - re-crawls: a stored document again under a new id, upper-cased
  *     with trailing punctuation (same fingerprint);
  *   - exact copies: a batch document again under a new id;
  *   - mutants: a batch document with one token dropped;
  *   - junk: a three-token document the quality gate must reject.
  * Planted row m of a kind copies source (offset + m) for a keyed
  * offset, and the kinds use disjoint sources, so every seed plants the
  * same duplicate structure.
  */
object CorpusGen {

  val Vocab: IndexedSeq[String] = IndexedSeq("a", "the", "data", "spark", "stream",
    "batch", "table", "query", "join", "filter", "group", "agg", "sort",
    "scan", "hash", "window", "row", "column", "key", "value", "order",
    "customer", "part", "line", "vector", "merge", "fast", "slow", "big",
    "small", "index", "cache", "shuffle", "stage", "task", "plan", "node",
    "graph", "edge")
  val Langs: IndexedSeq[String] = IndexedSeq("en", "en", "en", "zh", "es", "fr", "de")

  final case class Spec(baseDocs: Int, batchDocs: Int, plantFrac: Double) {
    require(batchDocs <= baseDocs, "a batch is drawn from one copy")
    def planted: Int = math.max(1, (batchDocs * plantFrac).round.toInt)
    require(3 * planted <= batchDocs, "planted sources must not overlap")
  }

  /** The ingest batch (cached) and the ids planted in it; copies and
    * mutants are (planted id, id of the batch document it duplicates).
    */
  final case class Batch(df: DataFrame, rows: Long, recrawlIds: Seq[Long],
                         copyIds: Seq[(Long, Long)], mutantIds: Seq[(Long, Long)],
                         junkIds: Seq[Long])

  val Schema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))

  private def u(seed: Long, stream: Long, i: Long) = SurveyGen.u(seed, stream, i)

  /** Hash-assigned id in [0, 2^62) for row i of id stream `stream`. */
  private def docId(seed: Long, stream: Long, i: Long): Long =
    SurveyGen.mix(seed, 1000 + stream, i) >>> 2

  /** Tokens of base document j (the same in every copy). */
  private def baseTokens(seed: Long, j: Int): IndexedSeq[String] = {
    val len = 30 + (u(seed, 1, j) * 31).toInt
    (0 until len).map(t => Vocab((u(seed, 2, j * 64L + t) * Vocab.size).toInt))
  }

  private def row(seed: Long, id: Long, toks: Seq[String], j: Int): Row = {
    val text = toks.mkString(" ")
    Row(id, text, Langs((u(seed, 3, j) * Langs.size).toInt), s"src${j % 10}",
      text.length.toLong)
  }

  private def copyDoc(seed: Long, k: Int, j: Int): Row =
    row(seed, docId(seed, k, j), baseTokens(seed, j) :+ s"c$k", j)

  /** The initial store: all of copy 0. */
  def store(s: SparkSession, seed: Long, spec: Spec): DataFrame =
    SurveyGen.cached(s, (0 until spec.baseDocs).map(copyDoc(seed, 0, _)), Schema)

  /** The batch: the first `batchDocs` documents of copy 1, plus the
    * planted rows.
    */
  def batch(s: SparkSession, seed: Long, spec: Spec): Batch = {
    val k = 1
    val (n, p) = (spec.batchDocs, spec.planted)
    val fresh = (0 until n).map(copyDoc(seed, k, _))
    val offset = (SurveyGen.mix(seed, 500, 0) >>> 33).toInt
    // source of planted row m of kind `kind` (0 re-crawl, 1 copy, 2 mutant)
    def src(kind: Int, m: Int, bound: Int): Int = (offset + kind * p + m) % bound
    // planted ids live in id streams 100 + kind (3 = junk)
    def id(kind: Int, m: Int): Long = docId(seed, 100 + kind, m)
    val recrawl = (0 until p).map { m =>
      val j = src(0, m, spec.baseDocs)
      row(seed, id(0, m), (baseTokens(seed, j) :+ "c0").map(_.toUpperCase) :+ "!!", j)
    }
    val exact = (0 until p).map { m =>
      val j = src(1, m, n)
      row(seed, id(1, m), baseTokens(seed, j) :+ s"c$k", j)
    }
    val mutant = (0 until p).map { m =>
      val j = src(2, m, n)
      val toks = baseTokens(seed, j) :+ s"c$k"
      val at = 1 + (u(seed, 4, m) * 20).toInt
      row(seed, id(2, m), toks.take(at) ++ toks.drop(at + 1), j)
    }
    val junk = (0 until p).map(m => row(seed, id(3, m), Seq("buy", "now", s"j$m"), m))
    val all = fresh ++ recrawl ++ exact ++ mutant ++ junk
    Batch(SurveyGen.cached(s, all, Schema), all.size,
      recrawl.map(_.getLong(0)),
      (0 until p).map(m => (id(1, m), fresh(src(1, m, n)).getLong(0))),
      (0 until p).map(m => (id(2, m), fresh(src(2, m, n)).getLong(0))),
      junk.map(_.getLong(0)))
  }
}
