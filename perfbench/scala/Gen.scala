package perfbench

import java.util.UUID
import scala.util.Random
import scala.util.hashing.MurmurHash3

/** Seeded input generators for every workload. Each generator is a pure
  * function of its seed and sizes: the same arguments give byte-identical
  * inputs in any JVM, which is what lets the output checks recompute the
  * expected results independently of the program under test.
  */
object Gen {

  // ------------------------------------------------------------ digests

  /** 64-bit hash of one canonical row string. */
  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1eaf).toLong & 0xffffffffL)

  /** Canonical text of an ingestion record; nulls render as `\N`. */
  def recordKey(name: String, v1: Any, v2: Any, payload: String): String =
    s"$name|${if (v1 == null) "\\N" else v1}|${if (v2 == null) "\\N" else v2}|$payload"

  /** Order-independent digest of a set of row hashes (wrapping sum). */
  final case class Digest(count: Long, sum: Long) {
    def +(h: Long): Digest = Digest(count + 1, sum + h)
    def ++(o: Digest): Digest = Digest(count + o.count, sum + o.sum)
    override def toString: String = f"$count:$sum%016x"
  }
  val EmptyDigest: Digest = Digest(0, 0)

  // ------------------------------------------------------------- ingest

  /** One ingestion job of the `ingest` workload. `rows(t)` is task t's
    * record count; `raw` jobs fetch gzip bytes and parse them, `unsafe`
    * jobs persist through a ForeachSink under Unsafe semantics.
    */
  final case class JobPlan(index: Int, client: Int, id: UUID, raw: Boolean,
                           unsafe: Boolean, large: Boolean, rows: Seq[Int],
                           seed: Long) {
    def tasks: Int = rows.size
    def records: Long = rows.map(_.toLong).sum
  }

  final case class IngestSizes(jobs: Int, largeJobs: Int, rawJobs: Int,
                               unsafeJobs: Int, clients: Int,
                               smallTasksMax: Int, smallRowsMax: Int,
                               largeTasks: Int, largeRowsMin: Int,
                               largeRowsMax: Int, payloadMin: Int,
                               payloadMax: Int)

  /** The job mix. Raw and Unsafe jobs are drawn in proportion from the
    * large and the small jobs separately, so that every seed gives the
    * large jobs, which hold most of the bytes, the same kind mix.
    */
  def ingestJobs(seed: Long, s: IngestSizes): Seq[JobPlan] = {
    val rnd = new Random(seed)
    val (largeIdx, smallIdx) = rnd.shuffle((0 until s.jobs).toVector).splitAt(s.largeJobs)
    val large = largeIdx.toSet
    def pick(n: Int): Set[Int] = {
      val nLarge = math.round(n.toDouble * s.largeJobs / s.jobs).toInt
      (rnd.shuffle(largeIdx).take(nLarge) ++ rnd.shuffle(smallIdx).take(n - nLarge)).toSet
    }
    val raw = pick(s.rawJobs)
    val unsafe = pick(s.unsafeJobs)
    (0 until s.jobs).map { i =>
      val rows =
        if (large(i)) Seq.fill(s.largeTasks)(
          s.largeRowsMin + rnd.nextInt(s.largeRowsMax - s.largeRowsMin + 1))
        else Seq.fill(1 + rnd.nextInt(s.smallTasksMax))(1 + rnd.nextInt(s.smallRowsMax))
      JobPlan(i, i % s.clients, new UUID(rnd.nextLong(), rnd.nextLong()),
        raw(i), unsafe(i), large(i), rows, rnd.nextLong())
    }
  }

  private val Alphabet = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ".toCharArray

  /** The records of task `task` of a job: (name, valueOne, valueTwo,
    * payload) with nullable values and a payload of seeded length.
    */
  def taskRecords(jobSeed: Long, task: Int, n: Int, payloadMin: Int,
                  payloadMax: Int): Iterator[(String, Integer, java.lang.Long, String)] = {
    val rnd = new Random(jobSeed * 31 + task)
    Iterator.tabulate(n) { r =>
      val len = payloadMin + rnd.nextInt(payloadMax - payloadMin + 1)
      val sb = new java.lang.StringBuilder(len)
      var i = 0
      while (i < len) { sb.append(Alphabet(rnd.nextInt(Alphabet.length))); i += 1 }
      val v1: Integer = if (rnd.nextInt(10) == 0) null else Integer.valueOf(rnd.nextInt())
      val v2: java.lang.Long = if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(rnd.nextLong())
      (s"t$task-r$r", v1, v2, sb.toString)
    }
  }

  /** Bytes of one generated record as the program receives it. */
  def recordBytes(rec: (String, Integer, java.lang.Long, String)): Long =
    rec._1.length + 4 + 8 + rec._4.length

  // ---------------------------------------------------------- documents

  /** Zipf-distributed vocabulary sampler: word rank r has weight
    * 1/(r+1)^s. Common English function words lead the vocabulary, as
    * they lead natural text.
    */
  final class Vocabulary(size: Int, s: Double) {
    private val lead = Seq("the", "of", "and", "a", "to", "is")
    private val words: Array[String] =
      (lead ++ (0 until size - lead.size).map(i => wordOf(i))).toArray
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(r => 1.0 / math.pow(r + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def draw(rnd: Random): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, size - 1))
    }
  }

  /** Pronounceable pseudo-word for vocabulary rank i (4–8 letters). */
  private def wordOf(i: Int): String = {
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    val rnd = new Random(i * 7919L + 17)
    val len = 2 + rnd.nextInt(3)
    (0 until len).map(_ => s"${cons(rnd.nextInt(cons.length))}${vow(rnd.nextInt(vow.length))}").mkString
  }

  def document(rnd: Random, vocab: Vocabulary, words: Int): String =
    Seq.fill(words)(vocab.draw(rnd)).mkString(" ")

  /** Near-duplicate of `text`: each word is replaced with probability
    * `mutate` by a fresh vocabulary draw.
    */
  def mutate(rnd: Random, vocab: Vocabulary, text: String, mutate: Double): String =
    text.split(" ").map(w => if (rnd.nextDouble() < mutate) vocab.draw(rnd) else w).mkString(" ")

  // ------------------------------------------------------------ vectors

  /** Gaussian-mixture sampler: `comps` unit-variance centres in `dim`
    * dimensions; each component spreads `spread` along its own 4-dim
    * subspace plus a little isotropic noise, so that nearest neighbours
    * are well defined. Coordinates are clamped to ±4 so that fixed-point
    * scores stay exact integers at dim 64.
    */
  final class Mixture(seed: Long, dim: Int, comps: Int, spread: Double) {
    private val rank = 4
    private val (centres, bases) = {
      val rnd = new Random(seed)
      (Array.fill(comps)(Array.fill(dim)(rnd.nextGaussian())),
        Array.fill(comps)(Array.fill(rank)(Array.fill(dim)(rnd.nextGaussian() / math.sqrt(dim)))))
    }
    private def clamp(x: Double): Float = math.max(-4.0, math.min(4.0, x)).toFloat
    def comp(rnd: Random): Int = rnd.nextInt(comps)
    def sample(rnd: Random, c: Int): Array[Float] = {
      val z = Array.fill(rank)(rnd.nextGaussian() * spread)
      Array.tabulate(dim)(i => clamp(centres(c)(i) +
        (0 until rank).map(r => bases(c)(r)(i) * z(r)).sum + rnd.nextGaussian() * 0.02))
    }
    def jitter(rnd: Random, v: Array[Float], sd: Double): Array[Float] =
      v.map(x => clamp(x + rnd.nextGaussian() * sd))
  }
}
