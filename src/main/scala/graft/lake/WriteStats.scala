package graft.lake

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The manifest stats of one data file, collected by [[GraftDataFileWriter]]
  * from the rows it writes: record count, repo/path min/max, langs, z
  * bounds, `xxhash64(repo)` bounds, null counts, the xor digest of the
  * per-row content hash and, on a bucketed write, the bucket the file is
  * pure to.
  *
  * The kernels are those of the Column expressions that define the
  * manifest contract: min/max compare in UTF8String binary order (parquet's
  * and Spark's, not java.lang.String's UTF-16 order, which differs for
  * supplementary characters), min/max/collect_set skip nulls, and the row
  * hash is [[GraftTable.rowHash]], `xxhash64(repo, path, commit,
  * sha2(content, 256))`, where a null input leaves the hash unchanged. A
  * `groupBy(input_file_name)` aggregation over the written files yields the
  * same entries.
  */
object WriteStats {

  /** Spark's `xxhash64(col)` of a string column: seed 42, a null (or an
    * absent column, idx < 0) leaves the seed. */
  def hash(row: InternalRow, idx: Int): Long = hashInto(row, idx, 42L)

  private def hashInto(row: InternalRow, idx: Int, h: Long): Long =
    if (idx < 0 || row.isNullAt(idx)) h
    else XxHash64Function.hash(row.getUTF8String(idx), StringType, h)

  /** Stats over rows of `schema`, a data file's schema (it has a LONG `z`);
    * `bucketOrdinal` is the bucket id's ordinal in the INPUT row, -1 on an
    * unbucketed write.
    *
    * The entry's `z_order` flag says whether every row's z is non-null and
    * equals `ZOrderInterleave.interleave(xxhash64(repo), xxhash64(path),
    * xxhash64(lang))`, the key point pruning reads z as. It is a fact about
    * the rows, not the writer: an input z passes through the writer
    * unchanged and may hold Hilbert indexes, a user's or a stream's own
    * values, or a rewrite's mix of such files. So each row is checked, up
    * to its first mismatch, unless `zDerived` says the writer computed z
    * by that very formula. */
  final class TaskStats(schema: StructType, bucketOrdinal: Int, zDerived: Boolean) {
    private def stringCol(name: String): Int =
      schema.fields.indexWhere(f => f.name.equalsIgnoreCase(name) && f.dataType == StringType)
    val repoIdx: Int = stringCol("repo")
    val pathIdx: Int = stringCol("path")
    val langIdx: Int = stringCol("lang")
    private val commitIdx = stringCol("commit")
    private val contentIdx = stringCol("content")
    private val zIdx = schema.fieldIndex("z")

    private val sha = java.security.MessageDigest.getInstance("SHA-256")
    private val hexDigits = "0123456789abcdef".getBytes("US-ASCII")
    private var n = 0L
    private var minRepo: UTF8String = null; private var maxRepo: UTF8String = null
    private var minPath: UTF8String = null; private var maxPath: UTF8String = null
    private val langs = scala.collection.mutable.HashSet.empty[UTF8String]
    private var minZ = Long.MaxValue; private var maxZ = Long.MinValue; private var sawZ = false
    private var zOrder = true
    private var minRh = Long.MaxValue; private var maxRh = Long.MinValue
    private var digest = 0L
    private var nullsRepo = 0L; private var nullsPath = 0L; private var nullsLang = 0L
    private var bMin = Int.MaxValue; private var bMax = Int.MinValue

    /** `sha2(content, 256)`: the lowercase hex of the SHA-256. */
    private def shaHex(content: UTF8String): UTF8String = {
      val d = sha.digest(content.getBytes)
      val out = new Array[Byte](64)
      var i = 0
      while (i < 32) {
        out(2 * i) = hexDigits((d(i) >> 4) & 0xf)
        out(2 * i + 1) = hexDigits(d(i) & 0xf)
        i += 1
      }
      UTF8String.fromBytes(out)
    }

    /** record one written row (`row` in the file's schema) of `input`.
      * String values may point into a reused buffer, so retained ones are
      * copied. */
    def update(row: InternalRow, input: InternalRow): Unit = {
      n += 1
      if (repoIdx < 0 || row.isNullAt(repoIdx)) nullsRepo += 1
      else {
        val u = row.getUTF8String(repoIdx)
        if (minRepo == null || u.compareTo(minRepo) < 0) minRepo = u.clone()
        if (maxRepo == null || u.compareTo(maxRepo) > 0) maxRepo = u.clone()
      }
      if (pathIdx < 0 || row.isNullAt(pathIdx)) nullsPath += 1
      else {
        val u = row.getUTF8String(pathIdx)
        if (minPath == null || u.compareTo(minPath) < 0) minPath = u.clone()
        if (maxPath == null || u.compareTo(maxPath) > 0) maxPath = u.clone()
      }
      if (langIdx < 0 || row.isNullAt(langIdx)) nullsLang += 1
      else {
        val u = row.getUTF8String(langIdx)
        if (!langs.contains(u)) langs += u.clone()
      }
      val rh = hash(row, repoIdx)
      if (rh < minRh) minRh = rh
      if (rh > maxRh) maxRh = rh
      if (row.isNullAt(zIdx)) zOrder = false
      else {
        val z = row.getLong(zIdx); sawZ = true
        if (z < minZ) minZ = z
        if (z > maxZ) maxZ = z
        if (zOrder && !zDerived) zOrder = z == graft.expr.ZOrderInterleave.interleave(
          rh, hash(row, pathIdx), hash(row, langIdx))
      }
      var h = hashInto(row, pathIdx, rh)
      h = hashInto(row, commitIdx, h)
      if (contentIdx >= 0 && !row.isNullAt(contentIdx))
        h = XxHash64Function.hash(shaHex(row.getUTF8String(contentIdx)), StringType, h)
      digest ^= h
      if (bucketOrdinal >= 0) {
        val b = input.getInt(bucketOrdinal)
        if (b < bMin) bMin = b
        if (b > bMax) bMax = b
      }
    }

    /** the file's manifest entry; a bucketed file holding two buckets is
      * refused (a storage-partitioned join over it would be silently
      * wrong). */
    def entry(relPath: String, tag: String, bytes: Long): ManifestEntry = {
      val bucket = if (bucketOrdinal < 0) None else {
        require(bMin == bMax,
          s"bucketed write produced an impure file $relPath (buckets $bMin..$bMax)")
        Some(bMin)
      }
      ManifestEntry(relPath, tag, n, bytes,
        if (minRepo == null) null else minRepo.toString,
        if (maxRepo == null) null else maxRepo.toString,
        if (minPath == null) null else minPath.toString,
        if (maxPath == null) null else maxPath.toString,
        langs.toSeq.map(_.toString).sorted,
        if (sawZ) minZ else 0L, if (sawZ) maxZ else 0L,
        minRh, maxRh, digest,
        Some(nullsRepo), Some(nullsPath), Some(nullsLang), bucket, Some(zOrder))
    }
  }
}
