package graft.operators

/** Named VERSION TAGS on snapshot tables — Iceberg's tag/ref idea on
  * this engine's layout: a tag is a durable name for one committed
  * version (`release-2026-08`, `golden-eval-set`), readable from SQL as
  * `VERSION AS OF 'name'` and from the operator API, and — the part
  * that makes tags more than bookmarks — IMMUNE TO VACUUM: both
  * formats' vacuum treat tagged versions as retained (for the
  * partitioned format, a tagged manifest also keeps every owner dir it
  * references alive, the same ownership rule recency-retention uses).
  * Training-data reproducibility is the motivating case: tag the exact
  * corpus version an experiment consumed and vacuum freely; the run
  * stays replayable until the tag is dropped.
  *
  * Layout: one tiny `<table>/_tags/<name>` file holding the version
  * number — format-agnostic (both snapshot formats share the table
  * root), metadata-sized, vacuumed never. Mutations run under the
  * table's single-writer lock; `set` verifies the version is committed
  * (≤ the pointer, dir present) so a tag can never pin an orphan.
  * Names are `[A-Za-z0-9._-]+` and must not be purely numeric — the
  * SQL `VERSION AS OF` surface resolves numbers as version ids first,
  * and an all-digit tag would be unreachable there. */
object Tags {

  private def tagsDir(t: String) = s"$t/_tags"
  private def tagPath(t: String, name: String) = s"${tagsDir(t)}/$name"

  private def validate(name: String): Unit = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9._-]+"),
      s"tag name must be [A-Za-z0-9._-]+, got '$name'")
    require(!name.matches("[0-9]+"),
      s"tag name must not be purely numeric ('$name' would be " +
        "unreachable via VERSION AS OF, which resolves numbers as " +
        "version ids)")
  }

  /** Tag `v` (default: the current version) with `name`. Refuses an
    * existing tag unless `replace`; refuses versions that are not
    * committed-and-present. Returns the tagged version. */
  def set(t: String, name: String, version: Option[Long] = None,
      replace: Boolean = false,
      store: CommitStore = CommitStore.local): Long = {
    validate(name)
    Incremental.withCommitLock(t, store) {
      val cur = PartitionedSnapshots.currentVersion(t, store).getOrElse(
        throw new IllegalStateException(
          s"$t has no committed snapshot to tag"))
      val v = version.getOrElse(cur)
      val present =
        PartitionedSnapshots.hasManifest(t, v, store) ||
          store.exists(Snapshots.versionDirOf(t, v))
      if (v > cur || !present) throw new IllegalStateException(
        s"$t has no committed snapshot v$v (vacuumed, orphan, or " +
          "never committed) — only committed versions can be tagged")
      store.mkdirs(tagsDir(t))
      val bytes = v.toString.getBytes("UTF-8")
      if (replace) store.write(tagPath(t, name), bytes)
      else if (!store.createNew(tagPath(t, name), bytes))
        throw new IllegalStateException(
          s"tag '$name' already exists on $t (at v" +
            s"${resolve(t, name, store).getOrElse(-1L)}); pass " +
            "replace = true to move it")
      v
    }
  }

  /** The version `name` pins, if the tag exists and is well-formed. */
  def resolve(t: String, name: String,
      store: CommitStore = CommitStore.local): Option[Long] =
    store.read(tagPath(t, name)).flatMap(b =>
      scala.util.Try(new String(b, "UTF-8").trim.toLong).toOption)

  /** All tags: name → version. */
  def list(t: String, store: CommitStore = CommitStore.local)
      : Map[String, Long] =
    store.list(tagsDir(t)).flatMap(n =>
      resolve(t, n, store).map(n -> _)).toMap

  /** Drop `name`; the pinned version becomes reclaimable by the next
    * vacuum (unless recency or another tag still retains it).
    * @return true iff the tag existed. */
  def drop(t: String, name: String,
      store: CommitStore = CommitStore.local): Boolean =
    Incremental.withCommitLock(t, store) {
      store.delete(tagPath(t, name))
    }

  /** Tagged versions, for the vacuums' retention unions. */
  private[operators] def taggedVersions(t: String,
      store: CommitStore): Set[Long] =
    list(t, store).values.toSet
}
