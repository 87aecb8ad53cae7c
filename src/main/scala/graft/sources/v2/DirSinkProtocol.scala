package graft.sources.v2

/** READER/WRITER PROTOCOL FEATURES for DirSink zones — the Delta-style
  * forward-compatibility gate (cf. Delta's `protocol` action with
  * `readerFeatures`/`writerFeatures`; same public design, re-derived
  * for the manifest-header format).
  *
  * The problem it solves: header keys round-trip UNTOUCHED through
  * builds that don't know them ("forward compatible"), which is right
  * for annotations but wrong for SEMANTICS — a build that doesn't know
  * the column-mapping key would resolve logical names directly against
  * parquet physical names and read all-NULLs; one that doesn't know
  * the parquet plane would try to parse parquet bytes as the text
  * codec. Silent misreads at 100 TB are the worst failure mode there
  * is, so zones now DECLARE what a client must understand:
  *
  *   - `#features=<f1,f2,…>`  — reader-required: reading the zone
  *     without implementing every listed feature can return WRONG
  *     data (not merely slower). Checked on every state read
  *     ([[DirSink.readManifestRaw]] — the funnel every metadata probe
  *     goes through) and on every era resolution ([[DirSinkLog.at]]).
  *   - `#wfeatures=<f1,f2,…>` — writer-required: committing on top of
  *     the zone without implementing every listed feature can break an
  *     invariant the zone's readers rely on (CHECK enforcement, bucket
  *     purity, bloom maintenance, fresh physical names under column
  *     mapping). Checked at the single commit choke point
  *     ([[DirSinkLog.publish]]). Every reader feature is implicitly
  *     writer-required too.
  *
  * An UNKNOWN listed feature refuses loudly, naming the feature and
  * the build's supported set — never a guess. The lists are stamped at
  * publish as (declared ∪ inferred-from-header), so zones written by
  * THIS build carry an explicit contract that FUTURE builds can extend
  * with feature names this build has never heard of; the stamped keys
  * themselves round-trip like any header, so the refusal works in both
  * directions once a zone has been touched by a protocol-aware build.
  * (Zones never rewritten since before the protocol landed carry no
  * lists — inference covers the features that existed then, which is
  * exactly the Delta bootstrap story: the protocol can only protect
  * commits made after it exists.)
  *
  * Features stay MINIMAL by design — a feature is listed only when
  * ignorance is dangerous. Counted stats (round 15) are deliberately
  * NOT a feature: an old parser hits the third token, fails the base64
  * decode, and falls back to `disabled` — fail-safe by construction,
  * so no gate is needed. */
object DirSinkProtocol {

  val ReaderKey = "features"
  val WriterKey = "wfeatures"

  /** Reader-required features this build implements. */
  val ReaderSupported: Set[String] =
    Set("commit-log", "column-mapping", "parquet-plane",
      "absolute-paths", "deletion-vectors")

  /** Writer-required features this build implements (superset of the
    * reader set — you cannot commit to a zone you cannot read). */
  val WriterSupported: Set[String] = ReaderSupported ++
    Set("check-constraints", "bucketing", "bloom-filters")

  /** The features a header's OWN keys imply — the bootstrap for zones
    * (or commits) that predate explicit lists. Reader set first. */
  private[graft] def infer(header: Map[String, String])
      : (Set[String], Set[String]) = {
    val r = Set.newBuilder[String]
    val w = Set.newBuilder[String]
    if (header.contains(DirSink.ColMapKey)) r += "column-mapping"
    if (header.get(DirSink.FormatKey).contains(DirSink.FormatParquet))
      r += "parquet-plane"
    if (header.contains(DirSinkDv.HeaderKey)) r += "deletion-vectors"
    if (header.keys.exists(_.startsWith(DirSinkChecks.PropPrefix)))
      w += "check-constraints"
    if (header.contains(DirSink.BucketKey)) w += "bucketing"
    if (header.contains(DirSink.BloomKey)) w += "bloom-filters"
    (r.result(), w.result())
  }

  private def parse(header: Map[String, String], key: String): Set[String] =
    header.get(key).toSet[String]
      .flatMap(_.split(",").iterator.map(_.trim).filter(_.nonEmpty))

  /** The header as published: declared ∪ inferred, both directions.
    * Empty sets stamp no key (a zone's header stays byte-stable until
    * a gated feature is actually in use). */
  private[graft] def stamp(header: Map[String, String]): Map[String, String] = {
    val (ir, iw) = infer(header)
    val r = parse(header, ReaderKey) ++ ir
    val w = parse(header, WriterKey) ++ iw
    header ++
      (if (r.nonEmpty) Map(ReaderKey -> r.toSeq.sorted.mkString(","))
       else Map.empty) ++
      (if (w.nonEmpty) Map(WriterKey -> w.toSeq.sorted.mkString(","))
       else Map.empty)
  }

  private def refuse(kind: String, unknown: Set[String],
                     supported: Set[String], path: String): Nothing =
    throw new UnsupportedOperationException(
      s"zone $path requires $kind feature(s) this build does not " +
        s"implement: ${unknown.toSeq.sorted.mkString(", ")} (supported: " +
        s"${supported.toSeq.sorted.mkString(", ")}). Refusing rather " +
        "than misread — upgrade the library to a build that lists the " +
        "feature(s)")

  /** Gate a state READ. Cheap (set diff on a usually-absent key). */
  private[graft] def checkRead(header: Map[String, String],
                            path: String): Unit = {
    val unknown = parse(header, ReaderKey) -- ReaderSupported
    if (unknown.nonEmpty) refuse("reader", unknown, ReaderSupported, path)
  }

  /** Gate a COMMIT: both lists must be fully implemented. */
  private[graft] def checkWrite(header: Map[String, String],
                             path: String): Unit = {
    checkRead(header, path)
    val unknown = parse(header, WriterKey) -- WriterSupported
    if (unknown.nonEmpty) refuse("writer", unknown, WriterSupported, path)
  }
}
