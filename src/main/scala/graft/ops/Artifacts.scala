package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Parquet

/** Versioned persistence for TRAINED index artifacts — centroid tables
  * ([[Similarity.kmeansFit]]), PQ codebooks ([[Similarity.pqTrain]]),
  * PCA component tables ([[Similarity.pcaTopK]]), BPE merge tables
  * ([[TextOps]]) — the save/load half of the reference's checkpoint
  * story (state_dict save AND load, fawac.py:555-583) applied to the
  * engine's trained state. Everything the X2/X3 train ops emit is a
  * small DataFrame (k·d centroid rows, m·k·d codebook rows, vocab-bounded
  * merge rows); what was missing operationally was a durable, versioned
  * home for them, so e.g. the centroid table
  * [[graft.streaming.StreamingOps.resplitHotCells]] returns no longer
  * lives only in the caller's hands across restarts.
  *
  * Layout under `rootPath`:
  * {{{
  *   v00000000000000000001/data/…parquet   the artifact rows
  *   v00000000000000000001/meta.json       family/params sidecar
  *   v00000000000000000002/…               the next committed version
  * }}}
  *
  * Commit discipline: a writer first CLAIMS its version number with an
  * atomic create-exclusive marker file (`.claim-vN` — `fs.create` with
  * overwrite=false), so two concurrent saves serialize onto DISTINCT
  * versions in claim order instead of racing the install (without the
  * claim, both compute the same next version and on HDFS the loser's
  * rename lands its staging dir INSIDE the winner's committed dir —
  * a silently wrong artifact). The version is then staged COMPLETE
  * (data + sidecar) under a hidden `.tmp-v…` dir and installed with one
  * atomic directory rename — the same staging+rename pattern
  * [[graft.streaming.StreamingOps.compactAnnIndex]] and the txn shard
  * sink use. Readers therefore only ever see fully-written versions;
  * the CURRENT version is simply the highest committed dir (no mutable
  * pointer file to corrupt), a crash mid-save leaves only hidden residue
  * (and at worst a gap in the version sequence — a dead claimant's
  * number is skipped, never reused), and old versions stay readable
  * until [[pruneArtifacts]] — the swap is append-then-read-latest,
  * never in-place.
  *
  * Filesystem contract: the atomicity of both the claim
  * (create-exclusive) and the install (directory rename) is an
  * HDFS-like-filesystem property; on S3 and similar object stores
  * rename is copy+delete and create is not exclusive, so this store
  * needs an HDFS/ABFS-style path (or an S3 committer layer) — the same
  * caveat the exactly-once txn shard sink documents
  * ([[graft.streaming.StreamingOps]] txn sink note).
  *
  * Scale: artifacts are broadcast-dim by construction (the train ops
  * bound them); the parquet read/write is one tiny file. The sidecar
  * carries (family, params) so a mis-wired load fails loud instead of
  * assigning against the wrong artifact kind. */
object Artifacts {

  final case class ArtifactMeta(family: String, version: Long,
                                params: Map[String, String])

  private def fsOf(spark: SparkSession, path: org.apache.hadoop.fs.Path) =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionName(v: Long): String = f"v$v%020d"

  private def committedVersions(spark: SparkSession, rootPath: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(rootPath)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(_.isDirectory)
      .flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("v")) n.stripPrefix("v").toLongOption else None
      }.toSeq.sorted
  }

  // minimal flat-JSON codec for the sidecar: family + version + a string
  // param map. Hand-rolled (no JSON dep in build.sbt); escapes '"', '\'
  // and all control chars < 0x20 (\n, \t, … as \uXXXX) so the sidecar
  // stays VALID JSON for external tooling, not just for parseMeta.
  private def esc(s: String): String = {
    val b = new StringBuilder
    s.foreach {
      case '\\' => b ++= "\\\\"
      case '"'  => b ++= "\\\""
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.toString
  }
  private def unesc(s: String): String = {
    val b = new StringBuilder; var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' if i + 5 < s.length =>
            b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case 'n' => b += '\n'; i += 2
          case 't' => b += '\t'; i += 2
          case 'r' => b += '\r'; i += 2
          case c => b += c; i += 2
        }
      }
      else { b += s.charAt(i); i += 1 }
    }
    b.toString
  }
  private def metaJson(meta: ArtifactMeta): String = {
    val params = meta.params.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")
    s"""{"family":"${esc(meta.family)}","version":${meta.version},"params":{$params}}"""
  }
  private val strField = """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
  private def parseMeta(json: String): ArtifactMeta = {
    val version = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(s"sidecar has no version: $json"))
    val paramsRegion = json.indexOf("\"params\"")
    val fields = strField.findAllMatchIn(json)
      .map(m => (unesc(m.group(1)), unesc(m.group(2)), m.start)).toSeq
    val family = fields.collectFirst { case ("family", v, _) => v }
      .getOrElse(throw new IllegalArgumentException(s"sidecar has no family: $json"))
    val params = fields.collect {
      case (k, v, off) if paramsRegion >= 0 && off > paramsRegion => k -> v
    }.toMap
    ArtifactMeta(family, version, params)
  }

  private def claimMarker(root: org.apache.hadoop.fs.Path, v: Long) =
    new org.apache.hadoop.fs.Path(root, s".claim-${versionName(v)}")

  /** Versions currently spoken for: committed dirs ∪ claim markers. */
  private def takenVersions(fs: org.apache.hadoop.fs.FileSystem,
                            root: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("v")) n.stripPrefix("v").toLongOption
      else if (!st.isDirectory && n.startsWith(".claim-v"))
        n.stripPrefix(".claim-v").toLongOption
      else None
    }.toSeq

  /** Persist `df` as the next version of the artifact at `rootPath`.
    * First claims the version number with an atomic create-exclusive
    * marker (concurrent savers serialize onto distinct versions in claim
    * order — see the object scaladoc), then stages data + sidecar
    * hidden, installs with one atomic rename, and returns the committed
    * version number. `family` is a fail-loud tag ("ivf_centroids",
    * "pq_codebooks", "pca_components", "bpe_merges", …) checked again at
    * load; `params` records the training knobs the next session needs
    * (dim, k, m, roundDigits — strings, caller's vocabulary). The write
    * coalesces to one file: artifacts are broadcast-dim by construction,
    * and one file keeps the version dir listable at a glance. */
  def saveArtifact(df: DataFrame, rootPath: String, family: String,
                   params: Map[String, String] = Map.empty): Long = {
    require(family.nonEmpty, "artifact family must be non-empty")
    val spark = df.sparkSession
    val root = new org.apache.hadoop.fs.Path(rootPath)
    val fs = fsOf(spark, root)
    fs.mkdirs(root)
    // Claim loop: next = max(committed ∪ claimed) + 1; create-exclusive
    // marker decides races. A claimant that dies after claiming leaves a
    // permanent gap (its number is never reused) — harmless: readers take
    // the highest COMMITTED dir, and gaps list fine.
    var version = 0L
    var claimed = false
    var attempts = 0
    while (!claimed) {
      attempts += 1
      require(attempts <= 64,
        s"saveArtifact: could not claim a version under $rootPath after 64 attempts")
      version = takenVersions(fs, root).maxOption.getOrElse(0L) + 1L
      val marker = claimMarker(root, version)
      try {
        // HDFS create(overwrite=false) is atomic create-exclusive; the
        // Hadoop LOCAL filesystem emulates it as check-then-create (racy
        // — two writers can both pass), so local paths go through POSIX
        // O_EXCL instead. Both throw FileAlreadyExists on a lost race.
        if (fs.getUri.getScheme == "file")
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(marker.toUri.getPath))
        else fs.create(marker, false).close()
        claimed = true
      } catch {
        // ONLY already-exists is a lost race (r17 — was: any IOException,
        // which spun 64 list-and-create rounds on permissions/quota/
        // connectivity failures and then discarded the root cause).
        // Both variants: java.nio throws the nio exception, Hadoop
        // filesystems throw their own (itself an IOException subclass).
        case _: java.nio.file.FileAlreadyExistsException => () // lost; recompute
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
      }
    }
    val staging = new org.apache.hadoop.fs.Path(root, s".tmp-${versionName(version)}")
    val dest = new org.apache.hadoop.fs.Path(root, versionName(version))
    fs.delete(staging, true)
    df.coalesce(1).write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(staging, "data").toString)
    val out = fs.create(new org.apache.hadoop.fs.Path(staging, "meta.json"), true)
    try out.write(metaJson(ArtifactMeta(family, version, params)).getBytes("UTF-8"))
    finally out.close()
    // tripwire: with the claim held this cannot fire unless the store was
    // tampered with out-of-band — keep it fail-loud rather than best-effort
    require(!fs.exists(dest),
      s"saveArtifact: version ${versionName(version)} appeared concurrently " +
        s"under $rootPath despite a held claim — store tampered out-of-band")
    require(fs.rename(staging, dest),
      s"saveArtifact: atomic install rename failed for $dest")
    fs.delete(claimMarker(root, version), false) // committed dir now holds the number
    version
  }

  /** Load the CURRENT (highest committed) version. Fails loud when the
    * root is empty or the stored family differs from the expected one. */
  def loadArtifact(spark: SparkSession, rootPath: String,
                   family: String): (DataFrame, ArtifactMeta) = {
    val versions = committedVersions(spark, rootPath)
    require(versions.nonEmpty, s"no committed artifact versions under $rootPath")
    loadArtifactVersion(spark, rootPath, versions.last, family)
  }

  /** Load one specific committed version (time travel / rollback). */
  def loadArtifactVersion(spark: SparkSession, rootPath: String, version: Long,
                          family: String): (DataFrame, ArtifactMeta) = {
    val vDir = new org.apache.hadoop.fs.Path(rootPath, versionName(version))
    val fs = fsOf(spark, vDir)
    require(fs.exists(vDir), s"artifact version $version not found under $rootPath")
    val in = fs.open(new org.apache.hadoop.fs.Path(vDir, "meta.json"))
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val meta = parseMeta(json)
    require(meta.family == family,
      s"artifact family mismatch under $rootPath: expected '$family', " +
        s"found '${meta.family}' — wrong artifact root wired in")
    (Parquet.read(spark, new org.apache.hadoop.fs.Path(vDir, "data").toString), meta)
  }

  /** All committed versions with their sidecars, oldest first. */
  def listArtifacts(spark: SparkSession, rootPath: String): Seq[ArtifactMeta] =
    committedVersions(spark, rootPath).map { v =>
      val vDir = new org.apache.hadoop.fs.Path(rootPath, versionName(v))
      val fs = fsOf(spark, vDir)
      val in = fs.open(new org.apache.hadoop.fs.Path(vDir, "meta.json"))
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      parseMeta(json)
    }

  /** Drop committed versions older than the newest `keep` (default: keep
    * the current and one rollback target). Never touches hidden staging
    * residue younger saves may be writing; DOES sweep ALL claim markers
    * below the highest committed version. That can include the claim of a
    * still-running slow save that was overtaken by a faster writer — safe
    * even so: once a higher version commits, `takenVersions.max + 1` can
    * never hand that number to a new claimant again, and the overtaken
    * writer holds its version in a local variable (it never re-reads the
    * marker), so it still commits its own directory intact. Claims ABOVE
    * the newest committed version (possibly mid-save, not yet overtaken)
    * are the only ones left untouched. */
  def pruneArtifacts(spark: SparkSession, rootPath: String, keep: Int = 2): Seq[Long] = {
    require(keep >= 1, "must keep at least the current version")
    val versions = committedVersions(spark, rootPath)
    val drop = versions.dropRight(keep)
    val root = new org.apache.hadoop.fs.Path(rootPath)
    val fs = fsOf(spark, root)
    drop.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(rootPath, versionName(v)), true)
    }
    versions.lastOption.foreach { newest =>
      fs.listStatus(root).filter(!_.isDirectory).map(_.getPath).foreach { p =>
        p.getName.stripPrefix(".claim-v").toLongOption match {
          case Some(v) if p.getName.startsWith(".claim-v") && v < newest =>
            fs.delete(p, false)
          case _ => ()
        }
      }
    }
    drop
  }
}
