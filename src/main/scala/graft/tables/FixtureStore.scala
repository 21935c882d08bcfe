package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}

/** The machinery behind every Prepare-convention fixture relation
  * ([[GraphFixtures]], [[ErFixtures]]): a session-scoped memo with an
  * optional AT-REST parquet tier underneath it.
  *
  * Memo lifecycle (explicit, not implied): entries key on
  * (session-uuid, dir, key) strings, so the map itself never pins a
  * SparkSession — but the memoized DataFrames DO reference their
  * session, so an entry keeps its session (and its localCheckpoint
  * blocks) reachable until the entry is dropped. Entries are dropped
  * (a) by [[release]] for one session, (b) wholesale when the
  * SparkContext ends (a listener registered on first use), or (c)
  * never, if a session is abandoned without either — the documented
  * cost of the memo convention; long-lived multi-session services
  * should call [[release]] when a session retires.
  *
  * At-rest tier: when `graft.fixtures.dir` (session conf) or
  * `GRAFT_FIXTURES_DIR` (env) names a directory produced by a
  * fixture-prepare run ([[write]] + [[writeMarker]]), a getter reads
  * `root/<key>` parquet instead of rebuilding — the production regime,
  * where fixtures are tables at rest rebuilt per snapshot and every
  * consumer (and every bench run) pays only the read. The `_source_dir`
  * marker pins which data dir the fixtures were derived from; a
  * mismatch logs loudly and falls back to the inline build (correct
  * either way — the memo keys on dir, so wrong-dir fixtures are never
  * served, only not-used).
  */
private[graft] object FixtureStore {

  /** Version of the fixture KEY SET a prepared root carries — bump when
    * getters/keys are added or removed. A root prepared by an older
    * binary lacks the newer keys; its getters would silently fall back
    * to inline builds, charging standing-state build cost to the very
    * queries a round claims moved it out (the r17 ADVICE finding, which
    * hit an A/B harness's unsalted root and Bench's provided-root path). The
    * version is recorded next to the `_source_dir` marker and checked
    * wherever the marker is. */
  val FixtureSetVersion: String = "r17"

  private val cache =
    scala.collection.mutable.Map.empty[(String, String, String), DataFrame]
  private val hookedApps = scala.collection.mutable.Set.empty[String]

  /** Stable per-session key that does not retain the session: a UUID
    * minted per instance, held in a WeakHashMap whose String values
    * don't reference the key — unlike caching DataFrames against the
    * session directly, this map's entries genuinely die with it. */
  private val sessionIds =
    new java.util.WeakHashMap[SparkSession, String]()
  private def sessionKey(spark: SparkSession): String =
    sessionIds.synchronized {
      sessionIds.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)
    }

  def memo(spark: SparkSession, dir: String, key: String)
      (build: => DataFrame): DataFrame = synchronized {
    ensureCleanupHook(spark)
    cache.getOrElseUpdate((sessionKey(spark), dir, key),
      atRest(spark, dir, key).getOrElse(build))
  }

  /** When true (scoped via [[buildingInline]]), [[memo]] never serves
    * the at-rest tier — every getter derives from the source tables. */
  private val inlineOnly = new scala.util.DynamicVariable[Boolean](false)

  /** Run `body` with the at-rest tier bypassed. The prepare path
    * ([[GraphFixtures.materialize]] / [[ErFixtures.materialize]]) wraps
    * itself in this: if `graft.fixtures.dir` already points at the
    * prepare TARGET (the natural production setup, or any re-prepare
    * after the source data changed at the same dir string), an
    * unbypassed getter would lazily READ `root/<key>` while the write
    * replaces it — Spark aborts with "Cannot overwrite a path that is
    * also being read from" — and a refreshed source dataset would
    * silently re-persist the stale at-rest relations instead of
    * re-deriving them. Callers should [[release]] the session first so
    * a memo entry that was served from at rest earlier in the session
    * cannot leak into the build either. */
  private[graft] def buildingInline[T](body: => T): T =
    inlineOnly.withValue(true)(body)

  /** Drop one session's entries (frees its checkpointed fixtures). */
  def release(spark: SparkSession): Unit = synchronized {
    val k = sessionKey(spark)
    cache.filterInPlace { case ((s, _, _), _) => s != k }
  }

  private def ensureCleanupHook(spark: SparkSession): Unit = {
    val appId = spark.sparkContext.applicationId
    if (hookedApps.add(appId))
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          FixtureStore.synchronized { cache.clear(); hookedApps.remove(appId) }
      })
  }

  // ---- at-rest tier ----

  def atRestRoot(spark: SparkSession): Option[String] =
    Option(spark.conf.get("graft.fixtures.dir", null))
      .orElse(sys.env.get("GRAFT_FIXTURES_DIR"))
      .filter(_.nonEmpty)

  private def fs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** `root/<key>` parquet if the root is configured, carries data, and
    * its marker matches `dir`; None (plus a loud stderr note on
    * marker mismatch) otherwise. */
  private def atRest(spark: SparkSession, dir: String, key: String): Option[DataFrame] =
    if (inlineOnly.value) None
    else atRestRoot(spark).flatMap { root =>
      readMarker(spark, root) match {
        case Some(src) if src != dir =>
          System.err.println(
            s"[graft] fixtures at $root were prepared for '$src', not '$dir' — building inline")
          None
        case Some(_) if !readVersion(spark, root).contains(FixtureSetVersion) =>
          // a stale-version root would serve its OLD keys and silently
          // rebuild the new ones inline — half at-rest, half cold, the
          // worst measurement regime; refuse the whole root loudly
          System.err.println(
            s"[graft] fixtures at $root carry fixture-set '" +
              s"${readVersion(spark, root).getOrElse("<none>")}', need " +
              s"'$FixtureSetVersion' — building inline (re-prepare the root)")
          None
        case _ =>
          val path = s"$root/$key"
          val (hfs, p) = fs(spark, path)
          if (hfs.exists(p) && hasDataFile(hfs, p)) Some(spark.read.parquet(path))
          else None
      }
    }

  private def hasDataFile(hfs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean = {
    val it = hfs.listFiles(p, true)
    var found = false
    while (!found && it.hasNext) {
      val n = it.next().getPath.getName
      found = !n.startsWith("_") && !n.startsWith(".")
    }
    found
  }

  /** Persist one fixture relation under `root/<key>` via a staged
    * tmp-dir + rename swap: the parquet lands COMPLETE at a hidden
    * sibling path, then replaces the old key dir in one delete+rename
    * metadata move — a failed prepare leaves the previous fixtures
    * intact rather than a half-written dir, and the writing plan never
    * targets a path any plan could be reading. Staged per KEY, not per
    * root, because the graph and ER prepares share one root (a whole-
    * root swap by either would drop the other's output). */
  def write(df: DataFrame, root: String, key: String): Unit = {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val tmp = s"$root/.tmp-$key-$tag"
    df.write.mode("overwrite").parquet(tmp)
    val (hfs, tmpP) = fs(df.sparkSession, tmp)
    val dst = new org.apache.hadoop.fs.Path(s"$root/$key")
    // swap order keeps SOME complete fixture present at every step: the
    // old dst is renamed ASIDE (not deleted) before the tmp moves in,
    // and is dropped only after the move succeeds; on a failed move the
    // aside copy is restored and the tmp dir is LEFT for diagnosis —
    // a failed prepare falls back to the previous fixtures, never to
    // nothing (the r16 ADVICE finding on the delete-first swap)
    val aside = new org.apache.hadoop.fs.Path(s"$root/.old-$key-$tag")
    val hadOld = hfs.exists(dst)
    if (hadOld && !hfs.rename(dst, aside))
      throw new java.io.IOException(s"fixture swap failed: cannot move $dst aside (tmp kept at $tmp)")
    if (!hfs.rename(tmpP, dst)) {
      if (hadOld) hfs.rename(aside, dst) // restore; best-effort by construction
      throw new java.io.IOException(s"fixture swap failed: $tmp -> $dst (tmp kept)")
    }
    if (hadOld) hfs.delete(aside, true)
  }

  /** Pin the source data dir the root's fixtures were derived from,
    * plus the fixture-set version this binary prepares. */
  def writeMarker(spark: SparkSession, root: String, dir: String): Unit = {
    writeSmallFile(spark, s"$root/_source_dir", dir)
    writeSmallFile(spark, s"$root/_fixture_set", FixtureSetVersion)
  }

  private def writeSmallFile(spark: SparkSession, path: String, body: String): Unit = {
    val (hfs, p) = fs(spark, path)
    val out = hfs.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** The fixture-set version recorded at the root; None for roots
    * prepared before versioning existed (treated as stale). */
  def readVersion(spark: SparkSession, root: String): Option[String] =
    readSmallFile(spark, s"$root/_fixture_set")

  /** True when the root was prepared for `dir` by a binary with the
    * CURRENT fixture-set version — the one check every at-rest
    * consumer (Bench, atRest itself) must make before serving. */
  def markerCurrent(spark: SparkSession, root: String, dir: String): Boolean =
    readMarker(spark, root).contains(dir) &&
      readVersion(spark, root).contains(FixtureSetVersion)

  def readMarker(spark: SparkSession, root: String): Option[String] =
    readSmallFile(spark, s"$root/_source_dir")

  private def readSmallFile(spark: SparkSession, path: String): Option[String] = {
    val (hfs, p) = fs(spark, path)
    if (!hfs.exists(p)) None
    else {
      val in = hfs.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(new String(bytes.toByteArray, "UTF-8"))
      } finally in.close()
    }
  }
}
