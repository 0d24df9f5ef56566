package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.functions._
import graft.core.Hashers
import graft.sql.expressions.{Digest, HashTile}

/** Column-level function surface of the engine (SURVEY.md §7 step 3). */
object functions {

  /** Binary digest of a string/binary column under any of the 9 algorithms
    * (reference src/hasher/mod.rs:13-75). Codegen-capable Catalyst
    * expression, not a UDF.
    */
  def digest(algo: String, c: Column): Column = {
    Hashers(algo) // fail fast on unknown algorithm names
    GraftShim.column(Digest(GraftShim.expression(c), algo))
  }

  /** Lowercase hex of a binary column — the reference's user-facing hash
    * encoding (`hex::encode`, reference src/cli/query.rs:154). Spark's
    * `hex()` is uppercase, so normalize.
    */
  def hexLower(c: Column): Column = lower(hex(c))

  /** Digest rendered as lowercase hex. */
  def digestHex(algo: String, c: Column): Column = hexLower(digest(algo, c))

  /** Prefix predicate on a binary hash column, phrased as a RANGE so parquet
    * row-group min/max pruning and data skipping survive — the same
    * prefix→`[prefix, prefix‖0xFF…]` widening the reference plays for its
    * zone maps (reference src/storage/parquet.rs:262-272, 489-516).
    * `startswith(hex(hash), …)` would scan everything; this pushes down.
    *
    * An empty prefix matches all rows (reference tests/integration.rs:395-396);
    * a full-length prefix is an exact match, emitted as equality so parquet
    * bloom filters engage too.
    */
  def hashPrefixPredicate(hashCol: Column, prefixHex: String): Column = {
    require(prefixHex.length % 2 == 0, s"odd-length hex prefix: $prefixHex")
    val prefix = hexToBytes(prefixHex)
    if (prefix.isEmpty) lit(true)
    else if (Hashers.all.exists(_.digestLength == prefix.length))
      // could be a complete digest: exact-match fast path (bloom-eligible)
      // OR a prefix of a longer algorithm's digest
      hashCol === lit(prefix) ||
        (hashCol >= lit(prefix) && hashCol <= lit(upperBound(prefix)))
    else
      hashCol >= lit(prefix) && hashCol <= lit(upperBound(prefix))
  }

  private def upperBound(prefix: Array[Byte]): Array[Byte] = {
    // prefix ‖ 0xFF…0xFF padded to the longest digest length (64 = sha512)
    val out = new Array[Byte](64)
    java.util.Arrays.fill(out, 0xff.toByte)
    System.arraycopy(prefix, 0, out, 0, prefix.length)
    out
  }

  def hexToBytes(hexStr: String): Array[Byte] = {
    require(hexStr.matches("(?i)[0-9a-f]*"), s"invalid hex: $hexStr")
    hexStr.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  }

  /** A row's tile among `n` ordered slices of the (algorithm rank, hash)
    * space: `rank` is the row's index in a sorted list of `ranks`
    * algorithms (`lit(0)` and 1 for one slice set over all algorithms).
    * See [[graft.sql.expressions.HashTile]].
    */
  def hashTile(hash: Column, rank: Column, n: Int, ranks: Int): Column =
    GraftShim.column(HashTile(GraftShim.expression(hash),
      GraftShim.expression(rank.cast("int")), n, ranks))

  /** Word→records expansion (reference src/cli/build.rs:353-366): one input
    * word fans out to one `(hash, preimage, algorithm, sources)` struct per
    * algorithm, via an in-plan explode (no shuffle, stays in codegen).
    */
  def expandAlgorithms(word: Column, algos: Seq[String], sources: Column): Column =
    explode(array(algos.map { a =>
      struct(
        digest(a, word).as("hash"),
        word.as("preimage"),
        lit(a).as("algorithm"),
        sources.as("sources")
      )
    }: _*))
}
