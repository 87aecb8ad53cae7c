package graft.sources.v2

import org.apache.hadoop.fs.Path

/** DELETION VECTORS — merge-on-read DELETE for DirSink zones (round
  * 15; Delta's deletion vectors / Iceberg v2 positional deletes, same
  * public design re-derived for this format).
  *
  * The copy-on-write DELETE rewrites every file the stats cannot
  * decide. Right for key-range deletes on clustered zones (the
  * rewrite set is empty — pure metadata); wrong for the other
  * canonical 100 TB shape: a predicate matching a FEW rows in MANY
  * files (GDPR erasure by user id, quality-list takedowns), where CoW
  * rewrites the whole zone to drop a millionth of it. A deletion
  * vector inverts the cost: the DELETE writes one tiny position
  * bitmap per touched file (`_dv/dv-<uuid>`) and the line gains a
  * `dv=<file>:<cardinality>` tag; READERS apply the bitmap — write
  * cost proportional to the deletion, read cost a per-row bitset
  * probe. OPTIMIZE/compact reads through the scan (vectors applied)
  * and emits clean files, so compaction is also the vector GC.
  *
  * Positions are ROW ORDINALS WITHIN THE COMMITTED FILE, the same
  * enumeration on both sides (the writer's `_pos` metadata column and
  * the reader's skip both come from Spark's own parquet row-index
  * machinery, `ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME`),
  * which is split-stable — a byte-range slice sees the file-global
  * index.
  *
  * Vectors are IMMUTABLE: a second DELETE on the same file writes a
  * NEW vector holding the union and re-tags the line, so every
  * retained generation keeps ITS vector and time travel / RESTORE /
  * the change feed are era-correct with zero extra machinery (the
  * era's line carries the era's tag). Vacuum sweeps `_dv` members no
  * retained generation references.
  *
  * File format: magic `GDV1`, varint cardinality, then ascending
  * positions gap-encoded as varints — a few bytes per deleted row.
  * Positions are bounded to Int.MaxValue (a committed file with 2^31
  * rows would be hundreds of GB — far past the write-side roll
  * sizes); the writer refuses beyond rather than truncating. */
object DirSinkDv {

  val DirName = "_dv"

  /** The `_pos` metadata column: this row's ordinal within its
    * committed file — the coordinate deletion vectors address. */
  val PosCol = "_pos"

  /** Session opt-in (Delta's table-property discipline, session-scoped
    * here): DELETE writes vectors instead of copy-on-write rewrites. */
  val EnabledKey = "spark.graft.deletionVectors.enabled"

  /** Manifest header flag: ≥1 commit of this zone has used vectors —
    * drives the `deletion-vectors` reader-feature inference
    * ([[DirSinkProtocol]]): a build that would silently return deleted
    * rows (the `dv=` tag parses as noise to pre-vector builds) must
    * refuse instead. */
  val HeaderKey = "dv"

  /** Write one vector (executor-callable); returns the zone-relative
    * name to tag the manifest line with. `dir` defaults to the final
    * vector directory; task-level PARTIAL vectors (the delta DML
    * write) pass their query's `_staging/<id>` so they are swept with
    * the query's staging on commit or abort. */
  private[v2] def write(zonePath: String, bits: java.util.BitSet,
                        dir: String = DirName): String = {
    val name = s"$dir/dv-${java.util.UUID.randomUUID()}"
    val f = DirSink.execFs(zonePath)
    DirSink.ensureStagingDir(f, new Path(zonePath, dir))
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(
        f.create(new Path(zonePath, name), true)))
    try {
      out.writeBytes("GDV1")
      varint(out, bits.cardinality().toLong)
      var i = bits.nextSetBit(0)
      var prev = -1L
      while (i >= 0) {
        varint(out, i.toLong - prev)
        prev = i.toLong
        i = bits.nextSetBit(i + 1)
      }
    } finally out.close()
    name
  }

  /** Read a vector (executor-callable). The name resolves like a data
    * file — `new Path(zone, name)`, so a clone's absolute pointers
    * work unchanged. */
  private[v2] def read(zonePath: String, name: String): java.util.BitSet = {
    val f = DirSink.execFs(zonePath)
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(f.open(new Path(zonePath, name))))
    try {
      val magic = new Array[Byte](4)
      in.readFully(magic)
      require(new String(magic, "US-ASCII") == "GDV1",
        s"$name is not a deletion vector")
      val n = unvarint(in)
      val bits = new java.util.BitSet()
      var prev = -1L
      var k = 0L
      while (k < n) {
        prev += unvarint(in)
        require(prev <= Int.MaxValue, s"position $prev overflows")
        bits.set(prev.toInt)
        k += 1
      }
      bits
    } finally in.close()
  }

  private def varint(out: java.io.DataOutputStream, v0: Long): Unit = {
    var v = v0
    require(v >= 0, s"varint of negative $v")
    while ((v & ~0x7fL) != 0L) {
      out.writeByte(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.writeByte(v.toInt)
  }

  private def unvarint(in: java.io.DataInputStream): Long = {
    var v = 0L
    var shift = 0
    var b = 0
    do {
      b = in.readUnsignedByte()
      v |= (b & 0x7fL) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    v
  }
}
