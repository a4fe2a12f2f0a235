package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.{FileSystem, Path}

/** Path-addressed, params-pinned index artifacts — the one store
  * behind [[graft.GraftSession.pinnedArtifact]]. An expensive
  * deterministic build (the n^1.5 k-NN-graph edge build, trained
  * quantizer parts, shared graph edge scans) runs once per address;
  * under a configured index root the artifact survives the session,
  * so a cold new process re-reads the parquet instead of re-running
  * the build — the deployment shape, where the index is built (or
  * stream-maintained) once and every consumer walks it. With no root
  * configured the same code runs against a per-session temp root.
  *
  * Layout: `<root>/<artifactId>/src=<fingerprint>/` containing the
  * build's parquet output plus `_artifact_params` (key=value lines).
  * The SOURCE FINGERPRINT — sorted (file name, byte length) pairs of
  * the data files under the source dir, hashed — is part of the
  * ADDRESS: a different corpus (or a mutated one) is a different
  * artifact, so data refreshes re-build rather than silently serving a
  * stale index. PARAMS are part of the PIN: an artifact built under
  * one parameterization (degree, nprobe, centroid convention, …) must
  * never be re-read under another — divergence REFUSES loudly (the
  * `_minhash_params` discipline, proven on the neardedup state).
  *
  * Crash discipline (the versionedStateSink staged-rename family): a
  * build writes into `_staging_<salt>` beside the final dir — params
  * file included — and a single atomic directory rename commits it.
  * A FAILED build deletes its own staging eagerly; a hard crash
  * leaves only a staging dir, swept by a later build once it is old
  * enough to be provably dead (age-gated — an unconditional sweep
  * would delete a live concurrent builder's dir and let its rename
  * commit a torn artifact); a crash after the rename left a complete
  * artifact. If two processes race, the rename loser validates the
  * winner's params and reuses its artifact.
  */
object ArtifactStore {

  /** Staging dirs younger than this are presumed LIVE concurrent
    * builds and never swept (a failed build deletes its own staging
    * eagerly — the gate only covers hard crashes).
    */
  private val StagingSweepAgeMs = 24L * 3600 * 1000

  private def fsFor(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fingerprint of the source data under `dir`: the sorted relative
    * (path, byte length) list of its data files, hashed to 16 hex
    * chars. Cheap (one recursive listing, no data read), deterministic
    * across hosts (no mtimes — a byte-identical copy fingerprints
    * equal), and sensitive to the mutations that matter (a file added,
    * removed, renamed or rewritten changes it; an in-place same-length
    * byte flip is the documented blind spot — corpora are appended or
    * replaced, not patched).
    */
  def sourceFingerprint(spark: SparkSession, dir: String): String = {
    val fs = fsFor(spark, dir)
    // qualify BEFORE stripping: listStatus returns scheme-qualified
    // paths (file:/root/...) where the caller's string is usually
    // bare — an unqualified prefix never strips, and fingerprinting
    // absolute URIs would make a byte-identical copy at another path
    // (or a trailing-slash spelling) address a different artifact
    // (round-19 self-review)
    val base = fs.makeQualified(new Path(dir))
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    val stack = scala.collection.mutable.Stack(base)
    while (stack.nonEmpty) {
      val d = stack.pop()
      fs.listStatus(d).foreach { st =>
        val name = st.getPath.toString.stripPrefix(base.toString)
        // skip HIDDEN entries (`_`/`.` prefixed — the Spark reader
        // convention) at every depth, directories included: metadata
        // (_SUCCESS, .crc), a crashed build's _staging_*, and any
        // underscore-named scratch dir must not perturb the address
        // of the DATA they sit beside (ADVICE r19: an index root or
        // sink nested in the source dir re-fingerprinted every run)
        val leaf = st.getPath.getName
        if (leaf.startsWith("_") || leaf.startsWith(".")) ()
        else if (st.isDirectory) stack.push(st.getPath)
        else buf += s"$name:${st.getLen}"
      }
    }
    val canonical = buf.sorted.mkString("\n")
    // FNV-1a 64-bit over the canonical listing — stable, dependency-free
    var h = 0xcbf29ce484222325L
    canonical.getBytes("UTF-8").foreach { b =>
      h ^= (b & 0xffL); h *= 0x100000001b3L
    }
    f"$h%016x"
  }

  /** Return the pinned artifact path for (artifactId, fingerprint)
    * under `root`, building it if absent. `params` must include
    * everything the build's output depends on besides the source data;
    * `build` writes its parquet under the path it is given.
    *
    * Hit: validates the stored `_artifact_params` — ANY key/value
    * divergence (either direction) refuses with the diff named.
    * Miss: sweeps stale staging dirs, builds into `_staging_<salt>`,
    * writes params INSIDE the staged dir, atomically renames to
    * `src=<fp>` (the commit point).
    */
  def pinned(spark: SparkSession, root: String, artifactId: String,
      fingerprint: String, params: Seq[(String, String)])
      (build: String => Unit): String = {
    require(root.nonEmpty, "artifact root must be non-empty")
    val fs = fsFor(spark, root)
    val artDir = new Path(s"$root/$artifactId")
    val finalDir = new Path(artDir, s"src=$fingerprint")
    val pm = params.toMap
    require(pm.size == params.size,
      s"duplicate param keys: ${params.map(_._1).mkString(", ")}")
    if (fs.exists(finalDir)) {
      validateParams(fs, finalDir, pm, artifactId)
      retainPerConf(spark, fs, artDir, finalDir)
      return finalDir.toString
    }
    // sweep staging dirs abandoned by a CRASHED build of this artifact
    // id — age-gated (round-19 self-review): an unconditional sweep
    // would delete a LIVE concurrent builder's staging dir mid-build,
    // and its later rename would commit a torn artifact; a dir old
    // enough that no build is plausibly still writing it is dead
    val deadline = System.currentTimeMillis() - StagingSweepAgeMs
    Option(fs.globStatus(new Path(artDir, "_staging_*")))
      .foreach(_.foreach { st =>
        if (st.getModificationTime < deadline) fs.delete(st.getPath, true)
      })
    val salt = java.util.UUID.randomUUID.toString.take(8)
    val staging = new Path(artDir, s"_staging_$salt")
    fs.mkdirs(staging)
    // a FAILED build deletes its own staging immediately (no orphan,
    // no wait on the age gate) and rethrows
    try build(staging.toString)
    catch { case e: Throwable => fs.delete(staging, true); throw e }
    val body = params.map { case (k, v) => s"$k=$v" }.mkString("\n")
    val out = fs.create(new Path(staging, "_artifact_params"), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (fs.rename(staging, finalDir)) {
      // ADVICE r19: on filesystems with HDFS rename semantics, a
      // rename onto an ALREADY-COMMITTED finalDir moves staging
      // INSIDE it and still returns true — the race loser would skip
      // params validation and leave a _staging_* subdir (underscore-
      // hidden to readers, unreachable by the age-gated sweep) in the
      // winner's artifact forever. Detect by OUR salt: if our staging
      // dir now sits nested under finalDir, we lost — delete the
      // nested dir and validate the winner's params like the
      // rename-false branch does.
      val nested = new Path(finalDir, s"_staging_$salt")
      if (fs.exists(nested)) {
        fs.delete(nested, true)
        validateParams(fs, finalDir, pm, artifactId)
      }
    } else {
      // rename refused: either a concurrent builder committed first
      // (validate + reuse its artifact) or the filesystem failed
      if (fs.exists(finalDir)) {
        fs.delete(staging, true)
        validateParams(fs, finalDir, pm, artifactId)
      } else throw new java.io.IOException(
        s"artifact commit rename $staging -> $finalDir failed")
    }
    retainPerConf(spark, fs, artDir, finalDir)
    finalDir.toString
  }

  /** Refuse an artifact root that would sit INSIDE the fingerprinted
    * source dir (or contain it). ADVICE r19: committing an artifact
    * under the source dir changes the source's own fingerprint, so
    * every re-run addresses a NEW `src=<fp>` and rebuilds — the
    * documented no-op refresh silently becomes one-artifact-per-run.
    * Hidden (`_`-prefixed) roots are exempt (the fingerprint skips
    * them), but a plainly-named nested root is always a mistake.
    * Shared by the knnindex stage, GraftSession.pinnedArtifact and
    * exportKnnGraphArtifact — every surface refuses identically.
    */
  def requireDisjointRoot(spark: SparkSession, root: String,
      sourceDir: String): Unit = {
    val qr = fsFor(spark, root).makeQualified(new Path(root)).toString
    val qs = fsFor(spark, sourceDir).makeQualified(new Path(sourceDir)).toString
    val nestedInSource = qr == qs || qr.startsWith(qs + "/")
    val hidden = qr.drop(qs.length + 1).split('/').headOption
      .exists(seg => seg.startsWith("_") || seg.startsWith("."))
    require(!nestedInSource || hidden,
      s"artifact root $root is nested inside the fingerprinted source " +
        s"dir $sourceDir: every committed artifact would change the " +
        "source fingerprint and re-address (one artifact per run, no " +
        "cache hits). Move the root outside the dataset dir, or under " +
        "a `_`-prefixed (reader-hidden) subdir.")
    require(!(qs == qr || qs.startsWith(qr + "/")),
      s"source dir $sourceDir is nested inside the artifact root $root " +
        "— a retention sweep of superseded generations could delete " +
        "source data. Keep the two trees disjoint.")
  }

  /** One committed generation of an artifact id: its `src=<fp>` dir,
    * total bytes, and commit (modification) time.
    */
  final case class Generation(fingerprint: String, path: String,
      bytes: Long, modifiedMs: Long)

  /** The committed generations under `<root>/<artifactId>` (staging
    * dirs excluded), newest first — the listing a deployment's
    * retention audit reads (VERDICT r19 task 3).
    */
  def generations(spark: SparkSession, root: String,
      artifactId: String): Seq[Generation] =
    listGenerations(fsFor(spark, root), new Path(s"$root/$artifactId"))
      .map { g =>
        // byte totals only for the audit listing — getContentSummary
        // walks each generation recursively, which retain() callers
        // must not pay on every pinned resolution
        val fs = fsFor(spark, g.path)
        g.copy(bytes = fs.getContentSummary(new Path(g.path)).getLength)
      }

  /** Cheap (one directory listing, no recursion) generation list —
    * what [[retain]] runs on; bytes are left 0.
    */
  private def listGenerations(fs: FileSystem, artDir: Path): Seq[Generation] =
    Option(fs.globStatus(new Path(artDir, "src=*"))).toSeq.flatten
      .filter(_.isDirectory)
      .map { st =>
        Generation(st.getPath.getName.stripPrefix("src="),
          st.getPath.toString, 0L, st.getModificationTime)
      }
      .sortBy(g => (-g.modifiedMs, g.fingerprint))

  /** Prune superseded committed generations of `artifactId`, keeping
    * the newest `keep` (by commit time) and ALWAYS the `current`
    * address — the generation a live session has pinned is never
    * swept, whatever its age (VERDICT r19 task 3: a mutated corpus
    * re-fingerprints to a fresh address and the superseded generation
    * otherwise lives forever). Returns the deleted paths. Ordering
    * contract (spec-pinned): retention runs AFTER the new generation
    * commits and validates, so the old generation survives any failed
    * or in-flight build — a crash before commit leaves every
    * committed generation in place.
    */
  def retain(spark: SparkSession, root: String, artifactId: String,
      keep: Int, current: Option[String] = None): Seq[String] = {
    require(keep >= 1, s"retain keeps at least the newest generation, got $keep")
    val fs = fsFor(spark, root)
    val cur = current.map(c => fs.makeQualified(new Path(c)).toString)
    val gens = listGenerations(fs, new Path(s"$root/$artifactId"))
      .map(g => g.copy(path = fs.makeQualified(new Path(g.path)).toString))
    val keepSet = (gens.take(keep).map(_.path) ++ cur).toSet
    gens.filterNot(g => keepSet.contains(g.path)).map { g =>
      fs.delete(new Path(g.path), true)
      g.path
    }
  }

  /** Post-commit retention hook: with `spark.graft.indexRetain` = N
    * configured, every successful [[pinned]] resolution prunes this
    * artifact id down to its newest N generations (the just-resolved
    * address always survives — it is `current` by construction).
    * Unset = keep everything (the conservative default: superseded
    * generations may still be pinned by OTHER sessions this store
    * cannot see; only a deployment that knows its session discipline
    * opts in).
    */
  private def retainPerConf(spark: SparkSession, fs: FileSystem,
      artDir: Path, finalDir: Path): Unit =
    spark.conf.getOption("spark.graft.indexRetain").map(_.trim)
      .filter(_.nonEmpty).foreach { n =>
        // a malformed value must fail with the CONF KEY named — the
        // bare toInt would throw after the expensive build succeeded
        // with no hint which setting is the culprit
        val keep = n.toIntOption.getOrElse(throw new IllegalArgumentException(
          s"spark.graft.indexRetain must be a positive integer " +
            s"(generations to keep per artifact), got `$n`"))
        require(keep >= 1,
          s"spark.graft.indexRetain must be >= 1 (the just-committed " +
            s"generation always survives), got $keep")
        retain(spark, artDir.getParent.toString, artDir.getName,
          keep, Some(finalDir.toString))
      }

  /** The canonical parameterization of the degree-bounded k-NN-graph
    * edge artifact — ONE definition shared by the batch build
    * (SimilarityQueries6.buildGraph) and the maintained-state export
    * ([[graft.streaming.StreamingOps.exportKnnGraphArtifact]]), so the
    * two representations of the SAME index can meet at one pinned
    * address and a drifted parameterization refuses instead of
    * silently serving the wrong graph. `minNodeId` is the node-set
    * floor (anchors excluded below it); `centroids` names the coarse
    * quantizer — the query layer's convention is `id_below_<k>`
    * (emb.filter(vec_id < k), k = ⌈√n⌉); a trained quantizer pins its
    * path instead.
    */
  def knnGraphParams(degree: Int, nprobe: Int, minNodeId: Long,
      centroids: String): Seq[(String, String)] = Seq(
    "kind" -> "knn_graph",
    "degree" -> degree.toString,
    "nprobe" -> nprobe.toString,
    "minNodeId" -> minNodeId.toString,
    "centroids" -> centroids)

  /** The DEFAULT artifact id a (degree, nprobe, minNodeId)
    * parameterization addresses — ONE definition shared by the
    * `knnindex` build stage and the `knnsearch`/REST serve surfaces
    * (the round-19 two-spellings-never-meet lesson: a build and a
    * serve deriving the id independently would drift and every serve
    * call would refuse with a misleading absent-artifact message).
    * The query layer's canonical address (`knn_graph_d6`) is assigned
    * exactly when the params ARE its convention; any other
    * parameterization derives its own address, so colliding defaults
    * cannot commit params the canonical consumers then refuse
    * (ADVICE r19).
    */
  def defaultKnnArtifactId(degree: Int, nprobe: Int, minNodeId: Long): String =
    if (degree == 6 && nprobe == 2 && minNodeId == 5L) "knn_graph_d6"
    else s"knn_graph_d${degree}_n${nprobe}_m$minNodeId"

  /** Validate a committed artifact dir against a requested
    * parameterization — the [[pinned]] hit-path check exposed for
    * READ-ONLY consumers (the serve surfaces), so the diff/refusal
    * semantics cannot drift between build and serve.
    */
  def validateStored(spark: SparkSession, artifactPath: String,
      requested: Map[String, String], artifactId: String): Unit =
    validateParams(fsFor(spark, artifactPath), new Path(artifactPath),
      requested, artifactId)

  /** The stored params of a committed artifact dir. */
  def storedParams(spark: SparkSession, artifactPath: String)
      : Map[String, String] =
    readParams(fsFor(spark, artifactPath), new Path(artifactPath))

  private def readParams(fs: FileSystem, dir: Path): Map[String, String] = {
    val pfile = new Path(dir, "_artifact_params")
    if (!fs.exists(pfile)) throw new IllegalStateException(
      s"$dir exists but has no _artifact_params — not an ArtifactStore " +
        "artifact (or a pre-pinning layout); delete it or use a fresh root")
    val in = fs.open(pfile)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    txt.split('\n').map(_.trim).filter(_.contains('='))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap
  }

  private def validateParams(fs: FileSystem, dir: Path,
      requested: Map[String, String], artifactId: String): Unit = {
    val stored = readParams(fs, dir)
    if (stored != requested) {
      val diff = (stored.keySet ++ requested.keySet).toSeq.sorted.flatMap {
        k =>
          (stored.get(k), requested.get(k)) match {
            case (a, b) if a == b => None
            case (a, b) => Some(
              s"$k: stored=${a.getOrElse("<absent>")} " +
                s"requested=${b.getOrElse("<absent>")}")
          }
      }
      throw new IllegalStateException(
        s"pinned artifact $artifactId at $dir was built under different " +
          s"params — ${diff.mkString("; ")}. An artifact must never be " +
          "re-read under a different parameterization; rebuild into a " +
          "fresh root (or delete the artifact) if the change is intended.")
    }
  }
}
