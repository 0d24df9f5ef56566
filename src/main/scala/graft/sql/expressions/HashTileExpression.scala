package graft.sql.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** The tile of a digest: which of `n` equal, ordered slices of the
  * (algorithm rank, leading 16 hash bits) space a row falls in,
  *
  *   tile = ((rank · 65536 + prefix16) · n) / (ranks · 65536)
  *
  * where `prefix16` is the hash's unsigned leading two bytes (a shorter
  * hash is zero-padded) and `rank` ∈ [0, ranks) is the row's algorithm's
  * index in a sorted algorithm list (0 with `ranks` = 1 when the layout is
  * not split by algorithm). The tile is monotone in (rank, hash) under
  * Spark's unsigned binary order, so partitioning by it tiles the hash
  * space the way a range sort does — with bounds known before any data is
  * read, because digests are uniform. A rank outside [0, ranks) is clamped.
  */
case class HashTile(left: Expression, right: Expression, n: Int, ranks: Int)
    extends BinaryKernel {
  require(n >= 1 && ranks >= 1, s"n = $n and ranks = $ranks must be positive")

  override def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_hash_tile"

  override protected def nullSafeEval(hash: Any, rank: Any): Any =
    HashTile.compute(hash.asInstanceOf[Array[Byte]], rank.asInstanceOf[Int], n, ranks)

  override protected def call(l: String, r: String): String =
    s"graft.sql.expressions.HashTile.compute($l, $r, $n, $ranks)"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HashTile =
    copy(left = newLeft, right = newRight)
}

object HashTile {
  /** Called from generated code — keep the signature stable. */
  def compute(hash: Array[Byte], rank: Int, n: Int, ranks: Int): Int = {
    val prefix =
      (if (hash.length > 0) (hash(0) & 0xff) << 8 else 0) |
        (if (hash.length > 1) hash(1) & 0xff else 0)
    val r = math.min(math.max(rank, 0), ranks - 1).toLong
    (((r << 16) + prefix) * n / (ranks.toLong << 16)).toInt
  }
}
