package perfbench

import java.util.SplittableRandom

/** Seeded, deterministic generators for the inputs the benchmark makes
  * itself (the `mr_core` corpus and events, the direct upsert changelog).
  * The same seed gives the same inputs; sizes are fixed per workload and
  * listed in perfbench/metrics.json.
  */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  /** A rank in [0, n), rank 0 the most frequent. */
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** `div` shrinks every size (the self-check's tiny inputs). */
final class Inputs(div: Int) {
  // mr_core corpus: Zipf-skewed words and user keys
  val Lines = 20000 / div
  val WordsPerLine = 12
  val Vocabulary = 30000 / div
  val WordZipf = 1.1
  val Events = 100000 / div
  val Users = 10000 / div
  val UserZipf = 1.0
  val EventTypes = Vector("view", "click", "cart", "buy", "error", "share")

  // direct upsert changelog: Zipf-overlapping keys, rising versions
  val Batches = math.max(2, 4 / div)
  val BatchRows = 4000 / div
  val KeySpace = 30000 / div
  val KeyZipf = 0.9

  def lines(seed: Long): Array[String] = {
    val r = new SplittableRandom(seed * 31 + 1)
    val z = new Zipf(Vocabulary, WordZipf)
    Array.fill(Lines) {
      Iterator.fill(WordsPerLine)("w" + z.sample(r)).mkString(" ")
    }
  }

  /** (user, ts, type) with every ts distinct, so the per-user time order
    * has no ties and the secondary sort is deterministic.
    */
  def events(seed: Long): Array[(Long, Long, String)] = {
    val r = new SplittableRandom(seed * 31 + 2)
    val z = new Zipf(Users, UserZipf)
    val ts = Array.tabulate(Events)(i => 1700000000000L + i.toLong * 7)
    var i = ts.length - 1
    while (i > 0) { // Fisher-Yates: distinct timestamps in random order
      val j = r.nextInt(i + 1)
      val t = ts(i); ts(i) = ts(j); ts(j) = t
      i -= 1
    }
    Array.tabulate(Events)(k =>
      (z.sample(r).toLong, ts(k), EventTypes(r.nextInt(EventTypes.size))))
  }

  /** Changelog batches of (k, ver, payload); ver rises across the log. */
  def changelog(seed: Long): Seq[Seq[(Long, Long, String)]] = {
    val r = new SplittableRandom(seed * 31 + 3)
    val z = new Zipf(KeySpace, KeyZipf)
    var ver = 0L
    (0 until Batches).map { _ =>
      (0 until BatchRows).map { _ =>
        ver += 1
        (z.sample(r).toLong, ver, java.lang.Long.toHexString(r.nextLong()))
      }
    }
  }
}
