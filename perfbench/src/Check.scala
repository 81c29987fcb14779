package perfbench

import scala.collection.mutable

/** Answer checks computed without the program: a brute-force BM25 and a
  * corpus-cleaning verdict oracle, each with its own tokenizer, doc-id
  * order and statistics. Nothing here calls into `graft`. */
object Check {

  private val Sep = java.util.regex.Pattern.compile("[^a-z0-9_]+")

  /** Lower-case, split on `[^a-z0-9_]+`, drop empties. */
  def tokenize(text: String): Array[String] =
    Sep.split(text.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)

  val K1 = 1.2
  val B = 0.75

  /** 6-dp HALF_UP on the double's shortest decimal form. */
  def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  case class Hit(docId: Long, score: Double)

  /** Conjunctive BM25 top-k by exhaustive scoring. Documents are added
    * in doc-id order (the caller sorts each batch by (repo, path,
    * commit) and appends batches after the base), so df, N and avgdl
    * always cover everything added so far. */
  final class BruteBm25 {
    private val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    private val tfs = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    private val dls = mutable.ArrayBuffer.empty[Int]
    private var totalDl = 0L

    def nDocs: Long = dls.length.toLong

    /** Append one document; returns its doc id. */
    def add(content: String): Long = {
      val id = dls.length.toLong
      val toks = tokenize(content)
      val counts = mutable.LinkedHashMap.empty[String, Int]
      toks.foreach(t => counts(t) = counts.getOrElse(t, 0) + 1)
      counts.foreach { case (t, c) =>
        postings.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += id
        tfs.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += c
      }
      dls += toks.length
      totalDl += toks.length
      id
    }

    def df(term: String): Int = postings.get(term).map(_.length).getOrElse(0)

    def topK(query: String, k: Int): Seq[Hit] = {
      val terms = tokenize(query).distinct
      if (terms.isEmpty || terms.exists(t => df(t) == 0)) return Nil
      val n = nDocs
      val avgdl = totalDl.toDouble / n
      // tf per matching doc for each term, starting from the rarest
      val byRarity = terms.sortBy(df)
      var cand: Map[Long, Array[Int]] = {
        val ps = postings(byRarity.head); val ts = tfs(byRarity.head)
        ps.indices.map(i => ps(i) -> Array(ts(i))).toMap
      }
      byRarity.tail.foreach { t =>
        val ps = postings(t); val ts = tfs(t)
        val m = mutable.HashMap.empty[Long, Int]
        ps.indices.foreach(i => if (cand.contains(ps(i))) m(ps(i)) = ts(i))
        cand = cand.collect { case (d, a) if m.contains(d) => d -> (a :+ m(d)) }
      }
      val idf = byRarity.map { t =>
        val d = df(t).toDouble
        math.log(1.0 + (n - d + 0.5) / (d + 0.5))
      }
      cand.toSeq.map { case (d, tfA) =>
        val dl = dls(d.toInt)
        var s = 0.0
        var i = 0
        while (i < tfA.length) {
          val tf = tfA(i).toDouble
          s += idf(i) * (K1 + 1.0) * tf / (tf + K1 * (1 - B + B * dl / avgdl))
          i += 1
        }
        Hit(d, round6(s))
      }.sortBy(h => (-h.score, h.docId)).take(k)
    }
  }

  /** Docs in the doc-id order the program assigns within one table or
    * batch, recomputed: sorted by (repo, path, commit). */
  def inIdOrder(docs: Seq[Inputs.CodeDoc]): Seq[Inputs.CodeDoc] =
    docs.sortBy(d => (d.repo, d.path, d.commit))

  /** Compare one returned top-k list in full. Returns an error or None. */
  def compareTopK(query: String, got: Seq[Hit], want: Seq[Hit]): Option[String] =
    if (got == want) None
    else Some(s"query '$query': got ${got.take(12).mkString(",")} " +
      s"want ${want.take(12).mkString(",")}")

  // ---- corpus cleaning ------------------------------------------------

  case class Verdict(docId: Long, nTokens: Long, langPred: String,
                     keep: Boolean, reason: String)

  private val LangMarkers = Seq(
    "en" -> Set("the", "and", "of", "is"),
    "fr" -> Set("le", "la", "et", "les"),
    "de" -> Set("der", "die", "und", "das"),
    "es" -> Set("el", "los", "que", "y"))

  private def shingles(toks: Array[String], k: Int): Set[String] =
    if (toks.length < k) Set.empty
    else (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" ")).toSet

  /** Verdicts for one slice: token-count quality gate [20, 100000],
    * marker-vote language (most votes, earlier language on ties, none =
    * unknown), exact groups by identical text, near-dup components over
    * word-3-shingle Jaccard >= 0.5, precedence quality > lang >
    * exact_dup > near_dup > keep; representatives are minimum doc ids. */
  def cleanVerdicts(docs: Seq[(Long, String)]): Seq[Verdict] = {
    val toks = docs.map { case (id, t) => id -> tokenize(t) }.toMap
    val exactRep = docs.groupBy(_._2).values
      .flatMap(g => { val m = g.map(_._1).min; g.map(_._1 -> m) }).toMap
    val sh = docs.map { case (id, _) => id -> shingles(toks(id), 3) }
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for (i <- sh.indices; j <- i + 1 until sh.length) {
      val (a, sa) = sh(i); val (b, sb) = sh(j)
      val common = (sa intersect sb).size
      val union = sa.size + sb.size - common
      if (union > 0 && common.toDouble / union >= 0.5) {
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
    }
    docs.map { case (id, _) =>
      val ts = toks(id)
      val votes = LangMarkers.map { case (l, ms) => l -> ts.count(ms.contains) }
      val best = votes.map(_._2).max
      val lang = if (best == 0) "unknown" else votes.find(_._2 == best).get._1
      val reason =
        if (ts.length < 20 || ts.length > 100000) "quality"
        else if (lang != "en") "lang"
        else if (exactRep(id) != id) "exact_dup"
        else if (find(id) != id) "near_dup"
        else "keep"
      Verdict(id, ts.length.toLong, lang, reason == "keep", reason)
    }
  }

  // ---- self-tests -------------------------------------------------------

  /** A five-document corpus whose BM25 scores were worked by hand:
    * N = 5, dl = (4, 2, 3, 1, 2), avgdl = 2.4. For "apple": df = 3,
    * idf = ln(1 + 2.5/3.5) = 0.5389965; doc 0 (tf 2, dl 4) scores
    * 0.5389965 * 2.2 * 2 / (2 + 1.2 * (0.25 + 0.75 * 4/2.4)) = 0.624101,
    * doc 1 (tf 1, dl 2) 0.5389965 * 2.2 / (1 + 1.2 * 0.875) = 0.578435,
    * doc 3 (tf 1, dl 1) 0.5389965 * 2.2 / (1 + 1.2 * 0.5625) = 0.707936.
    * "apple banana" matches doc 1 only: banana has df 2, idf =
    * ln(1 + 3.5/2.5) = 0.8754687, adding 0.8754687 * 2.2 / 2.05 =
    * 0.939527 to 0.578435 (1.517963 after rounding the unrounded sum).
    * "banana fig" matches doc 4 only: fig has df 1, idf = ln(4) =
    * 1.3862944, 0.939527 + 1.3862944 * 2.2 / 2.05 = 2.427258. */
  val FiveDocs = Seq("Apple apple cherry, date", "banana APPLE",
    "cherry date elder", "apple", "banana fig")
  val FiveDocAnswers = Seq(
    "apple" -> Seq(Hit(3, 0.707936), Hit(0, 0.624101), Hit(1, 0.578435)),
    "apple banana" -> Seq(Hit(1, 1.517963)),
    "banana fig" -> Seq(Hit(4, 2.427258)),
    "grape" -> Nil)

  /** Runs the checker self-tests; returns the failures (empty = pass). */
  def selfTest(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val bm = new BruteBm25
    FiveDocs.foreach(bm.add)
    FiveDocAnswers.foreach { case (q, want) =>
      compareTopK(q, bm.topK(q, 10), want).foreach(e => errs += s"five-doc: $e")
    }
    // a corrupted rank and a corrupted score must both be caught
    val (q, good) = FiveDocAnswers.head
    val swapped = Seq(good(1), good(0)) ++ good.drop(2)
    val nudged = good.updated(2, good(2).copy(score = good(2).score + 1e-6))
    if (compareTopK(q, swapped, good).isEmpty) errs += "swapped rank not caught"
    if (compareTopK(q, nudged, good).isEmpty) errs += "corrupted score not caught"
    // the verdict oracle on a slice must reproduce its generator recipe
    val slice = Inputs.proseSlice(7L, 0)
    val v = cleanVerdicts(slice.map(d => d.doc_id -> d.text))
    slice.zip(v).foreach { case (d, got) =>
      if (got.reason != d.recipe) errs += s"prose doc ${d.doc_id}: ${got.reason} != ${d.recipe}"
    }
    val flipped = v.updated(0, v(0).copy(reason = if (v(0).reason == "keep") "near_dup" else "keep"))
    if (compareVerdicts(flipped, v).isEmpty) errs += "flipped verdict not caught"
    errs.toSeq
  }

  def compareVerdicts(got: Seq[Verdict], want: Seq[Verdict]): Option[String] = {
    val g = got.sortBy(_.docId)
    if (g == want.sortBy(_.docId)) None
    else Some(g.zip(want.sortBy(_.docId)).find { case (a, b) => a != b }
      .map { case (a, b) => s"got $a want $b" }
      .getOrElse(s"got ${g.length} verdicts want ${want.length}"))
  }
}
