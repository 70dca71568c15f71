package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 guard for the "pinned artifact is authoritative" rule
  * (round-15 verdict #1): the r15 `bench_pinned.json` was committed
  * BEFORE the two biggest perf commits of its round, so the artifact
  * every >2×-sentinel judgment keys off measured code that no longer
  * existed. Bench now stamps each artifact with the HEAD commit it
  * measured (`head_commit`) and whether `src/main` was dirty at
  * measure time (`src_dirty`, which must be present and false); this
  * spec fails the suite whenever
  * `src/main` has commits the pin has not measured — the end-of-round
  * ordering invariant (all src commits → re-pin → commit pin LAST) as
  * a test, the same hardening GoldenPlanSpec's bench-coverage check
  * applied to un-pinned queries in round 11.
  */
class PinFreshnessSpec extends AnyFunSuite {

  private def git(cmd: String*): Option[String] =
    try {
      val p = new ProcessBuilder(("git" +: cmd): _*)
        .redirectErrorStream(true).start()
      val o = new String(p.getInputStream.readAllBytes()).trim
      if (p.waitFor() == 0) Some(o) else None
    } catch { case _: Throwable => None }

  /** Exit-status-only git call (merge-base --is-ancestor speaks via
    * exit code, not output). */
  private def gitOk(cmd: String*): Boolean =
    try {
      val p = new ProcessBuilder(("git" +: cmd): _*)
        .redirectErrorStream(true).start()
      p.getInputStream.readAllBytes()
      p.waitFor() == 0
    } catch { case _: Throwable => false }

  test("bench_pinned.json was measured at (or after) the last src/main " +
    "commit, on a clean src/main tree") {
    val pinned = Paths.get("bench_pinned.json")
    assert(Files.exists(pinned), "bench_pinned.json missing")
    val txt = Files.readString(pinned)
    val head = """"head_commit":"([0-9a-f]{7,40})"""".r
      .findFirstMatchIn(txt).map(_.group(1))
    assert(head.nonEmpty,
      "bench_pinned.json carries no head_commit — re-pin with the " +
        "round-16 Bench (full sf0.1 run, cp bench_out.json " +
        "bench_pinned.json) so freshness is checkable.")
    val dirty = """"src_dirty":(true|false)""".r
      .findFirstMatchIn(txt).map(_.group(1))
    assert(dirty.contains("false"),
      s"bench_pinned.json src_dirty is ${dirty.getOrElse("missing")} — " +
        "the recorded head_commit identifies the measured code only on " +
        "a known-clean src/main. Commit first, then re-pin.")
    // Environment checks cancel (not fail): a sandbox without git or
    // with a shallow/foreign checkout can't evaluate ancestry.
    assume(git("rev-parse", "HEAD").isDefined, "git unavailable")
    assume(gitOk("cat-file", "-e", head.get),
      "pin's head_commit unknown to this clone")
    val lastSrc = git("log", "-1", "--format=%H", "HEAD", "--",
      "src/main")
    assume(lastSrc.exists(_.nonEmpty), "no src/main history visible")
    assert(gitOk("merge-base", "--is-ancestor", lastSrc.get, head.get),
      s"src/main moved after the pinned bench: last src/main commit " +
        s"${lastSrc.get.take(12)} is not an ancestor of pin commit " +
        s"${head.get.take(12)} — the pin is stale evidence. Re-run " +
        "the full sf0.1 bench on HEAD and re-pin as the round's last " +
        "act.")
  }

  // Round-16 (verdict #2): the per-query bench deliberately warms the
  // materialized indexes, so a BUILD-path regression — the exact class
  // round 15 fixed — is invisible to bench_pinned.json. The committed
  // ann_build.json (graft.tools.BuildBench: cold-vs-warm lifecycle
  // rows for the ANN and text index families, sentinel-normalized) is
  // the instrument; this test makes its presence, coverage and
  // freshness part of the suite.
  test("ann_build.json: committed, covers both index lifecycles, and " +
    "postdates every src/main commit") {
    val p = Paths.get("ann_build.json")
    assert(Files.exists(p),
      "ann_build.json missing — run SPARK_GRAFT_CPUS=32 sbt " +
        "'runMain graft.tools.BuildBench' and commit the artifact.")
    val txt = Files.readString(p)
    val required = Seq("v18_indexed_ann", "v19_delta_ann",
      "v19b_ann_compaction", "d21_indexed_ingest",
      "d23_index_delta_append", "d43_index_compaction")
    val missing = required.filterNot(r => txt.contains("\"" + r + "\""))
    assert(missing.isEmpty,
      s"ann_build.json lacks lifecycle rows: ${missing.mkString(", ")}")
    assert(txt.contains("\"sentinel_sec\""),
      "ann_build.json carries no sentinel — build numbers are not " +
        "load-normalizable across rounds")
    val head = """"head_commit":"([0-9a-f]{7,40})"""".r
      .findFirstMatchIn(txt).map(_.group(1))
    assert(head.nonEmpty, "ann_build.json carries no head_commit")
    val dirty = """"src_dirty":(true|false)""".r
      .findFirstMatchIn(txt).map(_.group(1))
    assert(dirty.contains("false"),
      s"ann_build.json src_dirty is ${dirty.getOrElse("missing")} — it " +
        "must be measured on a known-clean src/main tree")
    assume(git("rev-parse", "HEAD").isDefined, "git unavailable")
    assume(gitOk("cat-file", "-e", head.get),
      "build pin's head_commit unknown to this clone")
    val lastSrc = git("log", "-1", "--format=%H", "HEAD", "--",
      "src/main")
    assume(lastSrc.exists(_.nonEmpty), "no src/main history visible")
    assert(gitOk("merge-base", "--is-ancestor", lastSrc.get, head.get),
      s"src/main moved after ann_build.json was measured — re-run " +
        "graft.tools.BuildBench on HEAD and re-commit the artifact.")
  }
}
