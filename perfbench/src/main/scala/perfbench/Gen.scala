package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Seeded wordlist and probe generators. The program sees only the files
  * and probe strings these produce; the benchmark keeps the ground truth.
  *
  * Word shape: lowercase letters and digits; length mix 30% 4-7 chars,
  * 50% 8-12, 20% 13-24; a stated share of words carry 1-3 non-ASCII
  * characters (Latin-1 accents, Cyrillic, CJK, Hangul).
  */
object Gen {
  private val Alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
  private val NonAscii = "éüßøåñçœжщ中文字日本語한국어"

  def word(r: SplittableRandom, nonAsciiShare: Double): String = {
    val u = r.nextDouble()
    val len =
      if (u < 0.3) 4 + r.nextInt(4)
      else if (u < 0.8) 8 + r.nextInt(5)
      else 13 + r.nextInt(12)
    val cs = Array.fill(len)(Alpha.charAt(r.nextInt(Alpha.length)))
    if (r.nextDouble() < nonAsciiShare)
      (0 until 1 + r.nextInt(3)).foreach { _ =>
        cs(r.nextInt(len)) = NonAscii.charAt(r.nextInt(NonAscii.length))
      }
    new String(cs)
  }

  /** `n` distinct words, none in `exclude`. */
  def uniqueWords(r: SplittableRandom, n: Int, nonAsciiShare: Double,
      exclude: collection.Set[String] = Set.empty): Vector[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val w = word(r, nonAsciiShare)
      if (!exclude.contains(w)) out += w
    }
    out.toVector
  }

  /** Lines of a wordlist over `unique`: every word once, plus duplicate
    * lines so that `dupShare` of all lines repeat an earlier word, in
    * seeded order.
    */
  def lines(r: SplittableRandom, unique: Vector[String], dupShare: Double): Array[String] = {
    val extra = math.round(unique.size * dupShare / (1 - dupShare)).toInt
    val all = unique.toArray ++ Array.fill(extra)(unique(r.nextInt(unique.size)))
    shuffle(r, all)
    all
  }

  def shuffle[T](r: SplittableRandom, a: Array[T]): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  def write(path: Path, lines: Array[String]): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, lines.toSeq.asJava, UTF_8)
  }

  /** Independent digest (the JDK's), for checks and probe sets. */
  def jdkDigest(algo: String, w: String): Array[Byte] = {
    val name = algo match {
      case "md5" => "MD5"
      case "sha1" => "SHA-1"
      case "sha256" => "SHA-256"
      case "sha512" => "SHA-512"
    }
    MessageDigest.getInstance(name).digest(w.getBytes(UTF_8))
  }

  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** The build workload's two wordlists: `a` holds `uniqueA` words plus
    * "hello" (the reference's known-answer word); `b` holds `uniqueB`
    * words, `overlap` of them drawn from `a`.
    */
  final case class BuildLists(a: Vector[String], b: Vector[String],
      linesA: Array[String], linesB: Array[String]) {
    lazy val shared: Int = b.count(a.toSet)
  }

  def buildLists(seed: Long, uniqueA: Int, uniqueB: Int, overlap: Double,
      dupShare: Double, nonAsciiShare: Double): BuildLists = {
    val r = new SplittableRandom(seed)
    val a = ("hello" +: uniqueWords(r, uniqueA - 1, nonAsciiShare, Set("hello"))).distinct
    val fromA = (0 until a.size).toArray
    shuffle(r, fromA)
    val nShared = math.round(uniqueB * overlap).toInt
    val shared = fromA.take(nShared).map(a).toVector
    val fresh = uniqueWords(r, uniqueB - nShared, nonAsciiShare, a.toSet)
    val b = shared ++ fresh
    BuildLists(a, b, lines(r, a, dupShare), lines(r, b, dupShare))
  }

  /** Lookup probes with their expected answers. */
  final case class Probe(cls: String, hex: String, expectPreimage: Option[String],
      expectRows: Int)

  /** `perClass` probes of each class, interleaved hit, miss, prefix:
    * `hit` = sha256 of a word in the db; `miss` = sha256 of a word not in
    * it; `prefix` = a 2-byte prefix, expecting min(limit, digests in the
    * db — md5 and sha256 — that start with it).
    */
  def probes(r: SplittableRandom, words: Vector[String], perClass: Int,
      limit: Int, nonAsciiShare: Double): Vector[Probe] = {
    val perPrefix = new Array[Int](65536)
    words.foreach { w =>
      Seq("md5", "sha256").foreach { a =>
        val d = jdkDigest(a, w)
        perPrefix(((d(0) & 0xff) << 8) | (d(1) & 0xff)) += 1
      }
    }
    val hits = Vector.fill(perClass) {
      val w = words(r.nextInt(words.size))
      Probe("hit", hex(jdkDigest("sha256", w)), Some(w), 1)
    }
    val misses = uniqueWords(r, perClass, nonAsciiShare, words.toSet)
      .map(w => Probe("miss", hex(jdkDigest("sha256", w)), None, 0))
    val prefixes = Vector.fill(perClass) {
      val p = r.nextInt(65536)
      Probe("prefix", f"$p%04x", None, math.min(limit, perPrefix(p)))
    }
    // round-robin over the classes, so any prefix of the run holds them
    // in equal shares
    hits.indices.flatMap(i => Seq(hits(i), misses(i), prefixes(i))).toVector
  }
}
