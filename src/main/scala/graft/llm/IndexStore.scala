package graft.llm

import java.io.File

import scala.jdk.CollectionConverters._

/** Shared lifecycle for the pre-materialized parquet indexes (d21's
  * ingest index, v18's ANN index, d23's delta chain): a content
  * fingerprint that actually identifies the source corpus, and an
  * atomic build-and-publish so concurrent sessions can never observe
  * (or co-author) a half-written index.
  *
  * Why not (length, mtime) of the source alone: Spark-written parquet
  * "files" are directories, whose File.length() is a near-constant
  * directory-entry size — two distinct corpora could collide on the
  * key and one would silently probe the other's stale index. The
  * fingerprint therefore hashes the canonical PATH plus every child
  * file's (name, length, mtime), recursively.
  *
  * Why rename-as-publish instead of a _BUILT marker: the marker was
  * created after three separate overwrite writes with no locking, so
  * two racing builders could interleave overwrites and then bless the
  * mix. Here each builder writes into its own unique temp sibling and
  * a single directory rename makes the index visible; the loser of the
  * race finds the winner's complete directory and discards its temp.
  * Mirrors the reference's stage-output publish (a shuffle stage's
  * files appear to consumers only once fully written,
  * `core/src/execution_plans/shuffle_writer.rs`).
  */
private[graft] object IndexStore {

  /** An artifact family: its directory name under java.io.tmpdir, the
    * layout-version suffix that retires artifacts of an older schema
    * (a pre-layout artifact would otherwise pass the manifest check
    * and fail the probe's read), and the infix before a compaction's
    * segment digest. */
  sealed abstract class Kind(val family: String, val version: String,
                             val segInfix: String = "")
  /** "-v2": postings are written range-clustered across
    * defaultParallelism files instead of one global-sorted file. */
  case object Postings extends Kind("graft_postings_index", "-v2")
  /** "-t2f": cells are two-level-routed, with the empty-group flat
    * fallback (see Similarity.twoLevelAssign), so a flat-assigned or
    * pre-fallback artifact never serves a probe whose oracle recomputes
    * the fallback-complete cells. */
  case object Ann extends Kind("graft_ann_index", "-t2f")
  /** "-e1": cells carry the float embedding (denormalized for the
    * probe); "t2f" as for [[Ann]]. */
  case object AnnDelta extends Kind("graft_ann_dindex", "-e1t2f", "cmp-")
  /** "-v2": bands carry the build-time bucket population, beside a
    * bucket-grain `pops` table. */
  case object Ingest extends Kind("graft_ingest_index", "-v2")
  case object Cluster extends Kind("graft_cluster_index", "")

  def root(kind: Kind): File =
    new File(sys.props.getOrElse("java.io.tmpdir", "/tmp"), kind.family)

  /** The one artifact-path registry: `<tmpdir>/<family>/<fingerprint of
    * src>[-<tag>][-<segInfix><digest of segs>]<version>`. `segs` are
    * the identities of the segments a compaction folds (order does not
    * matter), so a grown segment set never aliases a stale fold. */
  def path(kind: Kind, src: File, tag: String = "",
           segs: Seq[String] = Nil): File = {
    val tagPart = if (tag.isEmpty) "" else s"-$tag"
    val segPart =
      if (segs.isEmpty) "" else s"-${kind.segInfix}${segDigest(segs)}"
    new File(root(kind),
      s"${fingerprint(src)}$tagPart$segPart${kind.version}")
  }

  /** 8-hex order-insensitive digest of a segment set's identity
    * strings; callers pass identities that name each segment uniquely
    * within its artifact family. */
  private def segDigest(ids: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(ids.sorted.mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)

  /** 16-hex content fingerprint of a parquet source file or directory:
    * md5 over canonical path + recursive child (name, length, mtime). */
  def fingerprint(src: File): String = {
    val sb = new StringBuilder(src.getCanonicalPath)
    def walk(f: File): Unit = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty[File])
      kids.sortBy(_.getName).foreach { c =>
        if (c.isDirectory) walk(c)
        else sb.append('|').append(c.getName).append(':')
          .append(c.length()).append(':').append(c.lastModified())
      }
    }
    if (src.isDirectory) walk(src)
    else if (src.isFile)
      sb.append('|').append(src.length()).append(':')
        .append(src.lastModified())
    java.security.MessageDigest.getInstance("MD5")
      .digest(sb.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  /** Manifest file recording each published child with its recursive
    * file count — the probe-time validity check. The rename makes the
    * publish atomic, but the artifact then lives under java.io.tmpdir,
    * where a tmp reaper can delete FILES inside a published directory
    * while leaving `base` itself: with bare `base.exists()` as the
    * built marker, consumers would trust (and probe) a gutted index
    * instead of rebuilding (round-11 advice). The manifest is written
    * into the temp dir BEFORE the rename, so it is exactly as atomic
    * as the artifact it describes. */
  private val ManifestName = "_MANIFEST"

  private def countFiles(f: File): Long =
    if (f.isFile) 1L
    else Option(f.listFiles()).getOrElse(Array.empty[File])
      .map(countFiles).sum

  private def writeManifest(tmp: File): Unit = {
    val lines = Option(tmp.listFiles()).getOrElse(Array.empty[File])
      .filterNot(_.getName == ManifestName)
      .sortBy(_.getName)
      .map(c => s"${c.getName}\t${countFiles(c)}")
    java.nio.file.Files.writeString(
      new File(tmp, ManifestName).toPath, lines.mkString("\n"))
  }

  /** A published artifact is valid iff its manifest exists and every
    * recorded child still holds exactly its recorded file count (a
    * reaper deletes, never adds — any drift means the artifact is no
    * longer what was published). Pre-manifest artifacts fail this and
    * rebuild once. */
  private def isValid(base: File): Boolean = {
    val mf = new File(base, ManifestName)
    base.isDirectory && mf.isFile &&
      java.nio.file.Files.readAllLines(mf.toPath).asScala.forall { line =>
        line.split('\t') match {
          case Array(name, n) =>
            val c = new File(base, name)
            c.exists() && countFiles(c) == n.toLong
          case _ => line.trim.isEmpty
        }
      }
  }

  /** Best-effort hygiene on publish (round-11 advice): artifacts are
    * keyed by corpus fingerprint with no TTL, so every regenerated
    * corpus strands its predecessor's index tree in tmpdir forever.
    * After publishing `base`, siblings in the same family directory
    * that have been idle for >24 h are deleted — ANY fingerprint or
    * tag (round-13 advice: sparing same-fingerprint siblings stranded
    * every retired artifact-schema generation, e.g. the pre-`-v2` tag
    * names, doubling index disk per corpus forever). The age guard is
    * what makes this sound: [[ensureBuilt]] refreshes mtime on every
    * valid reuse, so anything 24 h idle is genuinely unprobed — and a
    * round runs ~6 h, so every artifact of the current round stays
    * alive (concurrent suites probe sf0.001/sf0.01/sf0.1/sf1
    * fingerprints side by side); `.tmp_` dirs are a concurrent
    * builder's workspace and are never touched.
    * Failures are swallowed — eviction is hygiene, not correctness:
    * an evicted-too-early artifact just rebuilds on next probe. */
  private def evictStaleSiblings(base: File): Unit = try {
    // 24 h (round-12 advice): a build round runs ~6 h, and mtime is only
    // refreshed at ensureBuilt hits, so the idle horizon must comfortably
    // exceed a full round or a concurrent suite's in-use artifact could
    // be evicted between its ensureBuilt and its last scan.
    val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
    Option(base.getParentFile.listFiles()).getOrElse(Array.empty[File])
      .filter { s =>
        s.getName != base.getName && !s.getName.contains(".tmp_") &&
          s.lastModified() < cutoff
      }
      .foreach(s => try deleteRec(s) catch { case _: Throwable => })
  } catch { case _: Throwable => }

  /** Build-if-missing with atomic publish. A present AND
    * manifest-valid `base` is the built marker (a rename either fully
    * succeeds or not at all on the same filesystem — tmpdir — so no
    * partially-visible state exists; the manifest check catches
    * post-publish decay). `build` receives the private temp directory
    * to write into. */
  def ensureBuilt(base: File)(build: File => Unit): String = {
    if (isValid(base)) {
      // Refresh mtime on every valid reuse (round-12 advice): the
      // eviction clock below reads lastModified as "last use", but
      // parquet reads never touch the directory — without the touch a
      // long round could evict an artifact a concurrent suite is
      // actively scanning, crashing that query mid-read instead of
      // "rebuild on next probe". Best-effort: some filesystems refuse.
      base.setLastModified(System.currentTimeMillis())
    } else {
      if (base.exists()) deleteRec(base) // gutted/legacy artifact
      base.getParentFile.mkdirs()
      val tmp = new File(base.getParentFile,
        base.getName + ".tmp_" +
          java.util.UUID.randomUUID().toString.take(8))
      build(tmp)
      writeManifest(tmp)
      if (!tmp.renameTo(base)) {
        if (base.exists()) deleteRec(tmp) // concurrent builder won
        else throw new java.io.IOException(
          s"cannot publish index at $base")
      } else evictStaleSiblings(base)
    }
    base.getAbsolutePath
  }

  private def deleteRec(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRec)
    f.delete()
  }
}
