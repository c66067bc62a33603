package graft.lake

import org.apache.spark.sql.functions._

/** The reference for the manifest stats graft's writer computes while it
  * writes: one `groupBy(input_file_name)` aggregation of the Column kernels
  * that define the manifest contract, over exactly the given files of the
  * table, with byte sizes from a listing of their directories. The
  * `z_order` flag is whether every row's z is null-safe equal to the
  * Z-order key the SQL functions give. */
object StatsOracle {

  def entriesFor(t: GraftTable, relPaths: Seq[String], tag: String,
                 bucketBy: Option[(String, Int)] = None): Seq[ManifestEntry] = {
    if (relPaths.isEmpty) return Seq.empty
    val spark = t.spark
    import spark.implicits._
    val dirs = relPaths.map(p => p.substring(0, p.lastIndexOf('/'))).distinct
    // file names carry a UUID, so bare names never collide across dirs
    val sizes = dirs.flatMap(d => t.io.listWithSizes(d)).toMap
    val zOrder = graft.expr.XmqFunctions.zorder_interleave(
      xxhash64($"repo"), xxhash64($"path"), pmod(xxhash64($"lang"), lit(256L)))
    val written = t.readFiles(relPaths).withColumn("h", GraftTable.rowHash())
      .withColumn("zk", $"z" <=> zOrder)
    val bucketAggs = bucketBy.toSeq.flatMap { case (c, n) =>
      val b = Bucketing.bucketCol(c, n)
      Seq(min(b).as("bmin"), max(b).as("bmax"))
    }
    val stats = written.groupBy(input_file_name().as("abs_path"))
      .agg(count(lit(1)).as("record_count"),
           (Seq(min($"repo").as("min_repo"), max($"repo").as("max_repo"),
           min($"path").as("min_path"), max($"path").as("max_path"),
           collect_set($"lang").as("langs"),
           min($"z").as("min_z"), max($"z").as("max_z"),
           min(xxhash64($"repo")).as("min_rh"), max(xxhash64($"repo")).as("max_rh"),
           expr("bit_xor(h)").as("digest"),
           count(when($"repo".isNull, 1)).as("nulls_repo"),
           count(when($"path".isNull, 1)).as("nulls_path"),
           count(when($"lang".isNull, 1)).as("nulls_lang"),
           expr("bool_and(zk)").as("z_order")) ++ bucketAggs): _*)
      .collect()
    stats.toSeq.map { r =>
      val rel = t.io.relativize(r.getString(0))
      val name = rel.substring(rel.lastIndexOf('/') + 1)
      val bucket = bucketBy.map { _ =>
        val (bmin, bmax) = (r.getInt(16), r.getInt(17))
        require(bmin == bmax, s"impure file $rel (buckets $bmin..$bmax)")
        bmin
      }
      ManifestEntry(rel, tag, r.getLong(1), sizes(name),
        r.getString(2), r.getString(3), r.getString(4), r.getString(5),
        r.getSeq[String](6).sorted, r.getLong(7), r.getLong(8), r.getLong(9), r.getLong(10),
        r.getLong(11), Some(r.getLong(12)), Some(r.getLong(13)), Some(r.getLong(14)),
        bucket, Some(r.getBoolean(15)))
    }
  }
}
