package graft.pipeline

import graft.core.SipHash

/** The reference engine's footer bloom (`shaha:bloom_bitmap` /
  * `shaha:bloom_keys` / `shaha:bloom_items` — reference
  * src/storage/parquet.rs:24-26, written at parquet.rs:444-461, reloaded
  * at parquet.rs:204-256), bit-compatible with the Rust `bloomfilter`
  * 1.0.16 crate that serializes it:
  *
  *  - items are hashed with Rust's `Vec<u8>` `Hash` framing: an 8-byte
  *    little-endian length prefix followed by the raw bytes, fed to a
  *    keyed SipHash-1-3 (`siphasher::sip::SipHasher13`);
  *  - two base hashes h0, h1 (one per sip key pair); probe i is
  *    g(0) = h0, g(1) = h1, and for i ≥ 2
  *    g(i) = (h0 +ₙ i·h1) mod 0xFFFF_FFFF_FFFF_FFC5 (wrapping u64
  *    arithmetic, unsigned modulo the largest 64-bit prime);
  *  - bit index = g(i) mod bits; the bitmap is serialized MSB-first per
  *    byte (`bit-vec::BitVec::to_bytes`), then base64 in the footer KV.
  *
  * Probe count: the crate's write side uses k = ceil(log2(1/fp)) — a
  * constant 7 for the reference's fixed 1% fp rate (parquet.rs:29), since
  * `new_for_fp_rate` sizes bits proportionally to capacity. The
  * reference's RELOAD, however, passes `total_records` where
  * `Bloom::from_existing` expects `k_num` (parquet.rs:246-251): replayed
  * verbatim, any database with more than 7 records probes bits the writer
  * never set and false-rejects PRESENT hashes. graft instead probes
  * k = max(1, min(7, items)) — never beyond the write-side k, so present
  * keys always pass on genuine reference files, while absent keys still
  * reject at ~1% fp. (Divergence is deliberate and safe: a too-small k
  * can only weaken rejection, never lose data.)
  */
final class FooterBloom(
    val bitmap: Array[Byte],
    val keys: (Long, Long, Long, Long),
    val items: Long,
    /** The crate's write-side probe count, ceil(log2(1/fp)) — 7 at the
      * reference's fixed 1% fp. Carried per-instance because the footer
      * does not record fp; [[FooterBloom.fromKv]] (reference files) always
      * uses 7, [[FooterBloom.forCapacity]] derives it from its fp argument.
      */
    val writeK: Int = 7
) extends Serializable {
  require(bitmap.nonEmpty, "empty bloom bitmap")
  require(writeK >= 1, s"writeK must be positive: $writeK")
  val bits: Long = bitmap.length * 8L
  /** Read-side probe count — never beyond the write-side k (see class doc). */
  val kNum: Int = math.max(1L, math.min(writeK.toLong, items)).toInt

  private val Prime = 0xffffffffffffffc5L // largest 64-bit prime

  /** SipHash-1-3 of the item with Rust `Vec<u8>` length-prefix framing. */
  private def sip(which: Int, item: Array[Byte]): Long =
    FooterBloom.sip(keys, which, FooterBloom.framed(item))

  @inline private def bitAt(idx: Long): Boolean =
    ((bitmap((idx >>> 3).toInt) >> (7 - (idx & 7)).toInt) & 1) == 1

  @inline private def setBit(idx: Long): Unit = {
    val b = (idx >>> 3).toInt
    bitmap(b) = (bitmap(b) | (1 << (7 - (idx & 7)).toInt)).toByte
  }

  private def probe(item: Array[Byte])(f: Long => Boolean): Boolean = {
    var h0 = 0L
    var h1 = 0L
    var i = 0
    while (i < kNum) {
      val g =
        if (i == 0) { h0 = sip(0, item); h0 }
        else if (i == 1) { h1 = sip(1, item); h1 }
        else java.lang.Long.remainderUnsigned(h0 + i.toLong * h1, Prime)
      if (!f(java.lang.Long.remainderUnsigned(g, bits))) return false
      i += 1
    }
    true
  }

  def mightContain(item: Array[Byte]): Boolean = probe(item)(bitAt)

  def add(item: Array[Byte]): Unit = {
    val framed = FooterBloom.framed(item)
    addHashes(FooterBloom.sip(keys, 0, framed), FooterBloom.sip(keys, 1, framed))
  }

  /** [[add]] for an item whose two base hashes h0, h1 are already known
    * (under this bloom's keys).
    */
  def addHashes(h0: Long, h1: Long): Unit = {
    // the write side always sets all writeK probes, even when `items` was
    // constructed smaller — mirrors the crate's writer
    var i = 0
    while (i < writeK) {
      val g =
        if (i == 0) h0
        else if (i == 1) h1
        else java.lang.Long.remainderUnsigned(h0 + i.toLong * h1, Prime)
      setBit(java.lang.Long.remainderUnsigned(g, bits))
      i += 1
    }
  }

  /** Footer KV encoding, reference formats (parquet.rs:444-461). */
  def toKv: Seq[(String, String)] = Seq(
    FooterBloom.KeyBitmap ->
      java.util.Base64.getEncoder.encodeToString(bitmap),
    FooterBloom.KeyKeys -> {
      val (a, b, c2, d) = keys
      s"${java.lang.Long.toUnsignedString(a)},${java.lang.Long.toUnsignedString(b)}," +
        s"${java.lang.Long.toUnsignedString(c2)},${java.lang.Long.toUnsignedString(d)}"
    },
    FooterBloom.KeyItems -> items.toString
  )
}

object FooterBloom {
  val KeyBitmap = "shaha:bloom_bitmap"
  val KeyKeys = "shaha:bloom_keys"
  val KeyItems = "shaha:bloom_items"
  /** graft's footer blooms are sized for at least this many items… */
  val MinCapacity = 100000L
  /** …at the reference's fixed false-positive rate (parquet.rs:29). */
  val Fp = 0.01

  /** The crate's write-side probe count for a target fp:
    * k = ceil(log2(1/fp)).
    */
  def kForFp(fp: Double): Int = {
    require(fp > 0 && fp < 1, s"fp must be in (0,1): $fp")
    math.ceil(-math.log(fp) / math.log(2.0)).toInt.max(1)
  }

  /** Bitmap bytes for `capacity` items at `fp` — the crate's
    * `compute_bitmap_size` (ceil(n·ln fp / (-8·ln²2))). Fails loudly when
    * the byte count exceeds a JVM array's Int range (~1.79e9 capacity at
    * fp=0.01) instead of silently overflowing into a useless tiny bloom —
    * per-file row counts (the only caller's capacity) never get there.
    */
  def bitmapBytes(capacity: Long, fp: Double = 0.01): Int = {
    require(capacity > 0 && fp > 0 && fp < 1)
    val ln2 = math.log(2.0)
    val bytes = math.ceil(capacity.toDouble * math.log(fp) / (-8.0 * ln2 * ln2))
    require(bytes <= Int.MaxValue.toDouble,
      s"bloom bitmap for capacity=$capacity at fp=$fp needs ${bytes.toLong} " +
        "bytes — beyond a JVM array; shard the file or raise fp")
    bytes.toInt.max(1)
  }

  /** Fresh bloom sized for `capacity` at `fp` (reference default 1%), with
    * deterministic sip keys derived from `seed` (the reference uses
    * random keys; any keys work — they ride in the footer). The write-side
    * probe count follows fp, matching the crate's writer at any fp.
    */
  def forCapacity(capacity: Long, seed: String, fp: Double = 0.01): FooterBloom =
    new FooterBloom(new Array[Byte](bitmapBytes(capacity, fp)), keysFor(seed),
      capacity, writeK = kForFp(fp))

  /** The sip keys [[forCapacity]] derives from `seed`. */
  private[pipeline] def keysFor(seed: String): (Long, Long, Long, Long) = {
    val sb = seed.getBytes("UTF-8")
    def k(i: Int): Long = SipHash.hash24(0x6772616674626c6dL, i.toLong, sb)
    (k(0), k(1), k(2), k(3))
  }

  /** An item in Rust's `Vec<u8>` `Hash` framing: 8-byte little-endian
    * length, then the bytes.
    */
  private[pipeline] def framed(item: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](8 + item.length)
    val n = item.length.toLong
    var j = 0
    while (j < 8) { out(j) = ((n >>> (8 * j)) & 0xff).toByte; j += 1 }
    System.arraycopy(item, 0, out, 8, item.length)
    out
  }

  /** Base hash `which` (0 or 1) of a framed item under `keys`: h0 and h1,
    * the two that [[FooterBloom.addHashes]] takes.
    */
  private[pipeline] def sip(keys: (Long, Long, Long, Long), which: Int, framed: Array[Byte]): Long =
    if (which == 0) SipHash.hash13(keys._1, keys._2, framed)
    else SipHash.hash13(keys._3, keys._4, framed)

  /** Parse from a footer KV map; None when any of the three keys is
    * absent or malformed (callers fall back to scanning).
    */
  def fromKv(kv: collection.Map[String, String]): Option[FooterBloom] =
    try {
      for {
        b64 <- kv.get(KeyBitmap)
        keysCsv <- kv.get(KeyKeys)
        itemsStr <- kv.get(KeyItems)
        parts = keysCsv.split(',').map(java.lang.Long.parseUnsignedLong)
        if parts.length == 4
        items <- itemsStr.toLongOption
        bytes = java.util.Base64.getDecoder.decode(b64)
        if bytes.nonEmpty
      } yield new FooterBloom(bytes, (parts(0), parts(1), parts(2), parts(3)), items)
    } catch { case _: Exception => None }
}
