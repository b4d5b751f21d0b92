package graft

/** The one cache policy for per-corpus-snapshot artifacts: bucketed
  * catalog tables, ETL layouts, dedup pair graphs, graph edge lists,
  * codebooks, bloom filters and stream replay dirs. Operator modules only
  * name an artifact ([[apply]]); this class alone decides what it is
  * keyed on and what happens to it when superseded.
  *
  *  - Key. An artifact's scope is the data dir and a tag naming the
  *    artifact and its structural parameters; its fingerprint is the
  *    application id and the content fingerprint of every input table it
  *    is built from ([[Tables.tableFingerprint]]). The application id is
  *    in the fingerprint because checkpointed blocks and in-memory
  *    catalog tables die with their SparkContext: the next application's
  *    lookup supersedes the dead one's artifact instead of leaving it
  *    live beside its own.
  *  - Supersede. A scope holds at most one live artifact. A lookup with a
  *    new fingerprint builds the new artifact and only then evicts the
  *    old one, so a failing build leaves the old artifact live. Builds
  *    are exclusive per scope (two first callers never both build) and
  *    never block lookups on another scope.
  *  - Release. The evicted artifact is freed at once, through the
  *    per-query intermediates' [[Intermediates.free]]: its Datasets,
  *    inside tuples too, and their checkpoint blocks. Release does not
  *    block and never fails the rebuild. A straggler still
  *    holding the evicted artifact was reading data that has since been
  *    rewritten, so failing it fast is intended.
  */
final class SnapshotCache[V] {

  private final class Slot {
    var entry: Option[(String, V)] = None
  }

  private val slots =
    scala.collection.concurrent.TrieMap.empty[String, Slot]

  /** The artifact `tag` over the tables `inputs` of `t`, built by `build`
    * unless the live one was built from the same table contents. */
  def apply(t: Tables, tag: String, inputs: String*)(build: => V): V =
    perApplication(t.spark.sparkContext.applicationId, s"${t.dir}:$tag",
      inputs.map(t.tableFingerprint))(build)

  /** The entry for `scope` built in application `appId` from inputs with
    * the content fingerprints `fps`. */
  private[graft] def perApplication(appId: String, scope: String,
      fps: Seq[String])(build: => V): V =
    getOrElseUpdate(scope, (appId +: fps).mkString(":"))(build)

  private[graft] def getOrElseUpdate(scope: String, fingerprint: String)(
      build: => V): V = {
    val slot = slots.getOrElseUpdate(scope, new Slot)
    slot.synchronized {
      slot.entry match {
        case Some((fp, v)) if fp == fingerprint => v
        case prev =>
          val v = build
          prev.foreach { case (_, old) => Intermediates.free(old) }
          slot.entry = Some((fingerprint, v))
          v
      }
    }
  }

  /** Visible for tests: the live fingerprint for a scope, if any. */
  private[graft] def liveFingerprint(scope: String): Option[String] =
    slots.get(scope).flatMap(s => s.synchronized(s.entry.map(_._1)))

  private[graft] def size: Int =
    slots.values.count(s => s.synchronized(s.entry.isDefined))
}
