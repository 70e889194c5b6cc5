package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a result: row count plus two wrapping
  * sums over per-row 64-bit hashes (the raw hash and a remix of it), so
  * the digest depends on the multiset of rows and not on their order or
  * partitioning. Top-level doubles are rounded to 9 decimals and maps
  * are hashed through their JSON form (Spark refuses to hash maps).
  */
object Digest {
  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast("double"), 9)
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val hs = if (cols.isEmpty) Array.empty[Long]
      else df.select(xxhash64(cols: _*)).collect().map(_.getLong(0))
    combine(hs)
  }

  def combine(hashes: Iterable[Long]): String = {
    var n = 0L; var s = 0L; var m = 0L
    hashes.foreach { h => n += 1; s += h; m += mix(h) }
    f"$n:$s%016x:$m%016x"
  }

  /** Row count of a digest. */
  def count(d: String): Long = d.takeWhile(_ != ':').toLong

  /** MurmurHash3 fmix64 finalizer. */
  def mix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }
}
