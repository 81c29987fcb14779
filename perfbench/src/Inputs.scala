package perfbench

/** Seeded input generators. Everything here is a pure function of the
  * seed, so the same `--seed` gives the same tables, queries and batches.
  * The generators are the benchmark's own (not the program's `Synth`), so
  * a change to the program cannot change the inputs it is measured on. */
object Inputs {

  /** splitmix64 step. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Small deterministic RNG over splitmix64. */
  final class Rng(seed: Long) {
    private var s = mix(seed)
    def nextLong(): Long = { s += 0x9e3779b97f4a7c15L; mix(s) }
    def below(n: Int): Int = ((nextLong() >>> 1) % n).toInt
    def unit(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
    /** Zipf-ish rank in [0, n): P(rank) ~ 1/(rank+1). */
    def zipf(n: Int): Int = {
      val u = unit().max(1e-12)
      math.min(n - 1, (math.exp(u * math.log(n + 1.0)) - 1.0).toInt)
    }
  }

  /** One source file of the `(repo, path, commit, lang, content)` table. */
  case class CodeDoc(repo: String, path: String, commit: String,
                     lang: String, content: String)

  private val Langs = Array("py", "scala", "c", "java")
  private val Seps = Array(" ", " ", " ", "(", ") ", ", ", ".", " = ", "\n")
  val GlobalVocab = 2000
  val LocalVocab = 100
  val DocsPerRepo = 50

  /** A code file in the style of a real repository: half of its tokens
    * are repo-local identifiers (`loc_<repo>_<rank>`), half a global
    * Zipf vocabulary (`id_<rank>`), joined by code punctuation, with some
    * identifiers upper-cased (the tokenizer lower-cases). `repoTag`
    * names the repository family so ingested batches get their own
    * repos. */
  def codeDoc(seed: Long, repoTag: String, i: Long, extra: Seq[String] = Nil): CodeDoc = {
    val rng = new Rng(seed * 1000003L + i * 7919L + repoTag.hashCode)
    val repoId = i / DocsPerRepo
    val n = 20 + rng.below(280)
    val sb = new StringBuilder(n * 10)
    var j = 0
    while (j < n) {
      val w =
        if (rng.below(2) == 0) s"loc_${repoTag}${repoId}_${rng.zipf(LocalVocab)}"
        else s"id_${rng.zipf(GlobalVocab)}"
      sb.append(if (rng.below(16) == 0) w.toUpperCase else w)
      sb.append(Seps(rng.below(Seps.length)))
      j += 1
    }
    extra.foreach(t => sb.append(' ').append(t))
    val lang = Langs(rng.below(Langs.length))
    CodeDoc(
      repo = f"$repoTag$repoId%05d",
      path = f"src/pkg${i % 7}/file_$i%08d.$lang",
      commit = f"${rng.nextLong()}%016x".take(8),
      lang = lang,
      content = sb.toString)
  }

  def codeCorpus(seed: Long, repoTag: String, n: Int): IndexedSeq[CodeDoc] =
    (0 until n).map(i => codeDoc(seed, repoTag, i.toLong))

  /** Query texts drawn from documents, with the mix the repository's
    * `graft.Bench` uses: the i-th query has `1 + (i % 3)` terms (1, 2 and
    * 3 terms in equal shares), taken from one document's tokens, so every
    * conjunctive query matches at least that document. Here the document
    * and its terms are drawn from the seed, the terms are distinct, and
    * the text is joined by spaces or punctuation and sometimes
    * upper-cased (the tokenizer lower-cases). Texts never repeat within
    * one stream. `docs` holds each document's distinct tokens. */
  final class QueryStream(seed: Long) {
    private val rng = new Rng(seed ^ 0x51ed2701L)
    private val seen = new java.util.HashSet[String]()
    private var i = 0L
    def next(docs: IndexedSeq[IndexedSeq[String]]): String = {
      var q: String = null
      while (q == null) {
        val toks = docs(rng.below(docs.length))
        val nTerms = (1 + (i % 3).toInt) min toks.length
        val picked = scala.collection.mutable.LinkedHashSet.empty[String]
        while (picked.size < nTerms) picked += toks(rng.below(toks.length))
        val joined = picked.mkString(if (rng.below(2) == 0) " " else ", ")
        val text = if (rng.below(4) == 0) joined.toUpperCase else joined
        if (seen.add(picked.mkString(" "))) q = text
      }
      i += 1
      q
    }
  }

  /** Each document's distinct tokens, the input `QueryStream` draws from. */
  def distinctTokens(docs: Seq[CodeDoc]): IndexedSeq[IndexedSeq[String]] =
    docs.map(d => Check.tokenize(d.content).distinct.toIndexedSeq).toIndexedSeq

  // ---- prose for corpus cleaning ------------------------------------

  /** A prose document and the verdict (`recipe`) it is built to
    * receive: keep, quality, lang, exact_dup or near_dup. */
  case class ProseDoc(doc_id: Long, text: String, slice: Int, recipe: String)

  private val EnMarkers = Array("the", "and", "of", "is")
  private val FrMarkers = Array("le", "la", "et", "les")

  /** A word of the prose vocabulary: `w` plus three letters, so it never
    * equals a language marker. */
  private def word(r: Int): String = {
    val a = ('a' + r % 26).toChar
    val b = ('a' + (r / 26) % 26).toChar
    val c = ('a' + (r / 676) % 26).toChar
    s"w$c$b$a"
  }

  /** `n` words; the first is always a marker, so the language vote is
    * never empty. */
  private def sentence(rng: Rng, n: Int, markers: Array[String]): Array[String] =
    Array.tabulate(n) { i =>
      if (i == 0 || rng.below(6) == 0) markers(rng.below(markers.length))
      else word(rng.zipf(17576))
    }

  private def render(words: Array[String]): String = {
    val sb = new StringBuilder
    words.indices.foreach { i =>
      if (i > 0) sb.append(if (i % 11 == 0) ". " else " ")
      sb.append(if (i % 11 == 0) words(i).capitalize else words(i))
    }
    sb.append('.')
    sb.toString
  }

  /** Slice layout: this many documents per slice, of which the last
    * `NearCopies + ExactCopies` copy earlier keep documents (copies get
    * higher doc ids than their originals, so the original is the
    * cluster representative and stays `keep`). */
  val SliceDocs = 40
  val QualityDocs = 4
  val LangDocs = 4
  val ExactCopies = 3
  val NearCopies = 3

  /** One slice of the `(doc_id, text)` prose table; every verdict occurs
    * in every slice. */
  def proseSlice(seed: Long, slice: Int): IndexedSeq[ProseDoc] = {
    val rng = new Rng(seed * 31L + slice * 1000033L + 17L)
    val base = slice.toLong * 1000L
    val plain = SliceDocs - QualityDocs - LangDocs - ExactCopies - NearCopies
    val kinds = (Seq.fill(plain)("keep") ++ Seq.fill(QualityDocs)("quality") ++
      Seq.fill(LangDocs)("lang")).toArray
    // deterministic shuffle of the non-copy kinds
    for (i <- kinds.indices.reverse) {
      val j = rng.below(i + 1); val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
    }
    val originals = kinds.indices.map { i =>
      val words = kinds(i) match {
        case "keep"    => sentence(rng, 40 + rng.below(80), EnMarkers)
        case "quality" => sentence(rng, 3 + rng.below(14), EnMarkers)
        case "lang"    => sentence(rng, 40 + rng.below(80), FrMarkers)
      }
      (words, kinds(i))
    }
    val keepIdx = originals.indices.filter(i => originals(i)._2 == "keep")
    val exact = (0 until ExactCopies).map { c =>
      val src = keepIdx(rng.below(keepIdx.length))
      (originals(src)._1, "exact_dup", src)
    }
    val near = (0 until NearCopies).map { c =>
      // distinct originals, not used by the exact copies, so every copy's
      // component is {original, copy}
      val pool = keepIdx.filterNot(i => exact.exists(_._3 == i))
      val src = pool((c * 5 + rng.below(3)) % pool.length)
      val w = originals(src)._1.clone()
      // one fresh word every 15 positions keeps 3-shingle Jaccard near
      // 0.7, well above the 0.5 threshold
      var p = rng.below(15)
      while (p < w.length) { w(p) = word(17576 + rng.below(5000)) + "x"; p += 15 }
      (w, "near_dup", src)
    }
    val texts = originals.map { case (w, k) => (render(w), k) }
    val copies = exact.map { case (_, k, src) => (texts(src)._1, k) } ++
      near.map { case (w, k, _) => (render(w), k) }
    (texts ++ copies).zipWithIndex.map { case ((t, k), i) =>
      ProseDoc(base + i, t, slice, k)
    }
  }
}
