package perfbench

import java.util.SplittableRandom

/** Zipf(s) sampler over ranks 0 until n (rank 0 most likely). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(r: SplittableRandom): Int = at(r.nextDouble())
  /** The rank at cumulative share `u` in [0, 1). */
  def at(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
  /** Share of the mass at `rank`. */
  def weight(rank: Int): Double = cdf(rank) - (if (rank == 0) 0.0 else cdf(rank - 1))
}

final case class Doc(path: String, text: String)

/** One serving request: `answers` or an approximate `search`. */
final case class Request(answers: Boolean, prompt: Int, tenant: Int)

/** Dedup corpus: docs keyed by id, the planted (lower id, higher id) near-copy
  * pairs, and the ids of the templated boilerplate cluster. */
final case class DedupCorpus(docs: IndexedSeq[(Long, String)],
                             planted: IndexedSeq[(Long, Long)],
                             boilerplate: Set[Long])

/** Seeded, deterministic input generator. Every input of every workload is a
  * pure function of the seed: a shared Zipf vocabulary of pseudo-words,
  * about 50 topic vocabularies over it, topic-mixture documents of 1 to 5
  * pages of 300 words, Zipf-sized tenants, a Zipf-popular prompt pool and the
  * dedup corpus with planted near-copies and one boilerplate cluster. */
final class Gen(seed: Long) {
  import Gen._

  private def rng(stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  private val globalZipf = new Zipf(VocabSize, 1.1)
  private val topicZipf = new Zipf(TopicWords, 1.0)

  /** Topic t's vocabulary: TopicWords distinct ranks outside the global head. */
  val topics: IndexedSeq[Array[Int]] = {
    val r = rng("topics")
    IndexedSeq.fill(Topics) {
      val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (picked.size < TopicWords) picked += 200 + r.nextInt(VocabSize - 200)
      picked.toArray
    }
  }

  private def word(r: SplittableRandom, topic: Int): String =
    if (r.nextDouble() < TopicShare) Vocab(topics(topic)(topicZipf.sample(r)))
    else Vocab(globalZipf.sample(r))

  private def words(r: SplittableRandom, topic: Int, n: Int): Array[String] =
    Array.fill(n)(word(r, topic))

  /** A topic-mixture document of 1 to 5 pages. */
  def doc(r: SplittableRandom, path: String): Doc = doc(r, path, 1 + r.nextInt(5))

  /** A topic-mixture document of `pages` pages; the last page is never full,
    * so the chunker makes no trailing empty page. */
  def doc(r: SplittableRandom, path: String, pages: Int): Doc = {
    val n = (pages - 1) * PageWords + 100 + r.nextInt(PageWords - 100)
    Doc(path, words(r, r.nextInt(Topics), n).mkString(" "))
  }

  /** An edit of `d` that substitutes about `share` of its words and keeps its
    * word count, so the page count stays the same. `tag` is appended to the
    * first word, marking the version. */
  def edit(r: SplittableRandom, d: Doc, share: Double, tag: String): Doc = {
    val w = d.text.split(" ")
    for (i <- w.indices if r.nextDouble() < share) w(i) = Vocab(globalZipf.sample(r))
    w(0) = w(0).takeWhile(_ != 'v') + "v" + tag
    Doc(d.path, w.mkString(" "))
  }

  /** `nTenants` tenants with Zipf(1) sizes summing to `nDocs`. */
  def tenants(nDocs: Int, nTenants: Int): IndexedSeq[(String, IndexedSeq[Doc])] = {
    val r = rng("tenants")
    val z = new Zipf(nTenants, 1.0)
    val sizes = Array.tabulate(nTenants)(i => math.max(1, math.round(z.weight(i) * nDocs).toInt))
    sizes.indices.map { t =>
      val alias = s"tenant$t"
      alias -> IndexedSeq.tabulate(sizes(t))(i => doc(r, s"$alias/doc$i.docx"))
    }
  }

  /** A flat tenant of `n` docs of `pages` pages each under `alias`. */
  def tenant(alias: String, n: Int, pages: Int): IndexedSeq[Doc] = {
    val r = rng("tenant:" + alias)
    IndexedSeq.tabulate(n)(i => doc(r, s"$alias/doc$i.docx", pages))
  }

  /** Prompt pool: each prompt asks about three head words of one topic. */
  def prompts(n: Int): IndexedSeq[String] = {
    val r = rng("prompts")
    IndexedSeq.fill(n) {
      val t = topics(r.nextInt(Topics))
      val kws = scala.collection.mutable.LinkedHashSet.empty[String]
      while (kws.size < 3) kws += Vocab(t(r.nextInt(PromptHead)))
      "what is " + kws.mkString(" ") + "?"
    }
  }

  /** Client `c`'s closed-loop request stream: in every block of 10, exactly
    * `answersPer10` answers in shuffled order, the rest approximate searches
    * (a fixed mix, so the mix does not vary with the seed); prompts drawn by
    * Zipf popularity. Tenants are Zipf-popular too, but each kind walks a
    * golden-ratio sequence from a seeded start through the Zipf shares, so
    * the few requests a run completes hit big and small tenants in about the
    * same proportion whatever the seed: the tenant mix sets the cost of a
    * request. */
  def requests(c: Int, nPrompts: Int, nTenants: Int, answersPer10: Int): Iterator[Request] = {
    val r = rng(s"client$c")
    val pz = new Zipf(nPrompts, 1.0)
    val tz = new Zipf(nTenants, 1.0)
    val u = Array(r.nextDouble(), r.nextDouble()) // per kind: answers, ANN
    def tenant(answers: Boolean): Int = {
      val k = if (answers) 0 else 1
      u(k) = (u(k) + GoldenRatioFrac) % 1.0
      tz.at(u(k))
    }
    val block = Array.tabulate(10)(_ < answersPer10)
    Iterator.continually {
      for (i <- 9 to 1 by -1) { val j = r.nextInt(i + 1); val t = block(i); block(i) = block(j); block(j) = t }
      block.toSeq.map(a => Request(a, pz.sample(r), tenant(a)))
    }.flatten
  }

  /** A stream of draws for the named purpose (churn rounds, check samples). */
  def stream(name: String): SplittableRandom = rng(name)

  /** Dedup corpus of `n` docs: `copyShare` of them planted near-copies (about
    * 5% of words substituted) of distinct originals, `boilerShare` of them one
    * templated boilerplate cluster, the rest short topic-mixture docs. Ids are
    * a seeded permutation, so copies do not sit next to their originals. */
  def dedupCorpus(n: Int, copyShare: Double, boilerShare: Double): DedupCorpus = {
    val r = rng("dedup")
    val nCopies = (n * copyShare).toInt
    val nBoiler = (n * boilerShare).toInt
    val nBase = n - nCopies - nBoiler
    val base = Array.fill(nBase)(words(r, r.nextInt(Topics), 60 + r.nextInt(180)))
    val origins = {
      val idx = Array.range(0, nBase)
      for (i <- 0 until nCopies) {
        val j = i + r.nextInt(nBase - i); val t = idx(i); idx(i) = idx(j); idx(j) = t
      }
      idx.take(nCopies)
    }
    val copies = origins.map { o =>
      base(o).map(w => if (r.nextDouble() < CopyEdit) Vocab(globalZipf.sample(r)) else w)
    }
    val template = words(r, r.nextInt(Topics), 160)
    val boiler = Array.fill(nBoiler) {
      val w = template.clone()
      for (_ <- 0 until 3) w(r.nextInt(w.length)) = Vocab(globalZipf.sample(r))
      w
    }
    val texts = (base ++ copies ++ boiler).map(_.mkString(" "))
    val perm = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val docs = IndexedSeq.tabulate(n)(i => (perm(i).toLong, texts(i))).sortBy(_._1)
    val planted = origins.indices.map { i =>
      val a = perm(origins(i)).toLong; val b = perm(nBase + i).toLong
      (math.min(a, b), math.max(a, b))
    }
    DedupCorpus(docs, planted, (nBase + nCopies until n).map(perm(_).toLong).toSet)
  }
}

object Gen {
  val VocabSize = 20000
  val Topics = 50
  val TopicWords = 300
  val TopicShare = 0.7
  val PromptHead = 20
  val PageWords = 300
  val CopyEdit = 0.05
  val GoldenRatioFrac = 0.6180339887498949

  /** The shared vocabulary: consonant-vowel pseudo-words of two or three
    * syllables, stopwords removed. Word order is the Zipf rank. */
  val Vocab: IndexedSeq[String] = {
    val syl = for (c <- "bdfgklmnprstz"; v <- "aeiou") yield s"$c$v"
    val stop = graft.functions.TextFunctions.Stopwords.toSet
    Iterator.from(syl.size).map { i =>
      val sb = new StringBuilder
      var x = i
      while (x > 0) { sb.append(syl(x % syl.size)); x /= syl.size }
      sb.toString
    }.filterNot(stop).take(VocabSize).toIndexedSeq
  }

  /** SHA-256 over everything a workload's generator produces for `seed`. */
  def digest(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}
