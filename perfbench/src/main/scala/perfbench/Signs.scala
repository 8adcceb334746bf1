package perfbench

import java.util.SplittableRandom

/** Seeded producer of TrafficSigns-shaped CSV lines (20 columns, no
  * header, RFC-4180 doubled quotes, a fixed share of malformed lines),
  * with its own tally of what App-1 and App-2 must report.
  *
  * Every line is built from known fields, so the expected results
  * follow from the construction rather than from a second parser:
  *  - App-2 (`sign_post == pattern` → running count per `category`)
  *    counts well-formed lines whose column 6 is the pattern;
  *  - App-1 (raw line contains the pattern → `(objectid, sign_type)`)
  *    keeps well-formed lines that carry the pattern in column 6 or in
  *    the free-text notes column.
  * The pattern appears nowhere else. A malformed line has a stray
  * quote inside an unquoted field, which the RFC-4180 parser rejects.
  *
  * The mix is assumed, not taken from the TrafficSigns files: column 6
  * is the pattern with probability 0.35 + 0.65 / 7 ≈ 0.443 (a forced
  * share plus a uniform pick from `posts`, which includes it); 5% of
  * the other lines carry it in the notes only (≈ 0.028 of all lines);
  * 3% of lines are malformed. So App-1 keeps ≈ 0.97 × 0.471 ≈ 0.457
  * of the lines and App-2 counts ≈ 0.43 of them. perfbench/NOTES.md
  * gives the reason for each value.
  */
final class Signs(seed: Long, pattern: String) {
  private val rnd = new SplittableRandom(seed)
  private var nextObjectId = 1L

  private val posts = Array(pattern, "U-Channel", "Square Tube", "Wood",
    "Mast Arm", "Round Pipe", "Breakaway")
  private val categories = Array("Warning", "Regulatory", "Guide",
    "School", "Construction", "Parking", "Information", "Street Name")
  private val signTypes = Array("Streetname - Mast Arm", "Stop",
    "Speed Limit 25", "No Parking \"Any Time\"", "School Zone, Ahead",
    "Yield", "One Way", "Dead End")
  private val sizes = Array("16\" X 42\"", "30\" X 30\"", "24\" X 30\"",
    "18\" X 24\"", "36\" X 36\"")
  private val notes = Array("replaced after storm", "faded, verify",
    "near \"Green St\" bus stop", "leaning", "ok")

  /** Per-category App-2 counts over every line produced so far. */
  val app2Counts = scala.collection.mutable.Map.empty[String, Long]
  /** App-1 pairs produced so far, per block: (rows, checksum). */
  val app1PerBlock = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  private def q(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""
  private def coord(x: Double): String =
    java.math.BigDecimal.valueOf(math.round(x * 1000), 3).toPlainString
  private def pick[T](a: Array[T]): T = a(rnd.nextInt(a.length))

  /** The next block of `n` lines (newline-terminated). */
  def block(n: Int): String = {
    val sb = new java.lang.StringBuilder(n * 200)
    var rows = 0L
    var sum = 0L
    var i = 0
    while (i < n) {
      val id = nextObjectId
      nextObjectId += 1
      val post = if (rnd.nextInt(100) < 35) pattern else pick(posts)
      val cat = pick(categories)
      val st = pick(signTypes)
      val noteHasPattern = post != pattern && rnd.nextInt(100) < 5
      val note = if (noteHasPattern) s"was $pattern until 2019" else pick(notes)
      val malformed = rnd.nextInt(100) < 3
      val year = if (rnd.nextBoolean()) (1990 + rnd.nextInt(35)).toString else " "
      val cols = Array(
        coord(-9822000.0 - rnd.nextDouble() * 5000),
        coord(4887000.0 + rnd.nextDouble() * 5000),
        id.toString, q(st), q(pick(sizes)), " ", q(post), year, q(cat),
        q(note), f"W${rnd.nextInt(20)}-${rnd.nextInt(9)}", "Champaign",
        if (malformed) s"F${id}x\"" else s"F$id", " ", "N",
        (1 + rnd.nextInt(6)).toString, q(if (rnd.nextBoolean()) "ONE WAY" else " "),
        rnd.nextInt(1000).toString, "Y",
        s"{${new java.util.UUID(rnd.nextLong(), rnd.nextLong())}}")
      sb.append(cols.mkString(",")).append('\n')
      if (!malformed) {
        if (post == pattern) app2Counts(cat) = app2Counts.getOrElse(cat, 0L) + 1
        if (post == pattern || noteHasPattern) {
          rows += 1
          sum += pairHash(id.toString, st)
        }
      }
      i += 1
    }
    app1PerBlock += ((rows, sum))
    sb.toString
  }

  private val md5 = java.security.MessageDigest.getInstance("MD5")

  /** Per-pair hash whose sum is the App-1 checksum: the first 40 bits
    * of md5(key \u0001 value), the same value the result side computes
    * in Spark with `conv(substr(md5(...), 1, 10), 16, 10)`.
    */
  private def pairHash(k: String, v: String): Long = {
    val d = md5.digest(s"$k\u0001$v".getBytes("UTF-8"))
    (0 until 5).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xff))
  }
}
