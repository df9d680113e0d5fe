package graft

import java.io.File
import java.nio.file.Files

/** [[WorkDir]]: the entry wipe and the stale-dir reaper. The reaper
  * runs on a scratch root here, never on the shared tmpdir. */
class WorkDirSpec extends SparkTestBase {

  private def touch(f: File, ageMs: Long): File = {
    f.setLastModified(System.currentTimeMillis() - ageMs); f
  }
  private def mkdir(parent: File, name: String): File = {
    val d = new File(parent, name); d.mkdirs(); d
  }
  private def mkfile(parent: File, name: String): File = {
    val f = new File(parent, name)
    Files.write(f.toPath, Array[Byte](1, 2, 3)); f
  }

  test("fresh returns an empty graft_<name>_<sanitized appId> dir even " +
      "when a previous call left files") {
    val tag = WorkDir.tag(spark)
    assert(tag.nonEmpty && tag.matches("[a-zA-Z0-9_]+"), tag)
    val first = new File(WorkDir.fresh(spark, "spec_fresh"))
    assert(first.getName == s"graft_spec_fresh_$tag")
    mkfile(mkdir(first, "sub"), "leftover.bin")
    mkfile(first, "top.bin")
    val second = new File(WorkDir.fresh(spark, "spec_fresh"))
    assert(second == first)
    assert(!second.exists() || second.list().isEmpty)
  }

  test("reap deletes graft_ dirs untouched for 3 h and keeps recent " +
      "ones, live ones and dirs without the prefix") {
    val root = new File(tempDir("workdir-spec"))
    val old = WorkDir.StaleAfterMs + 3600 * 1000L
    val stale = mkdir(root, "graft_stale_app1")
    touch(mkfile(mkdir(stale, "idx"), "blob.bin"), old)
    touch(new File(stale, "idx"), old)
    touch(stale, old)
    val recent = mkdir(root, "graft_recent_app2")
    mkfile(recent, "blob.bin")
    // an old dir whose direct child a live run just wrote
    val live = mkdir(root, "graft_live_app3")
    mkfile(live, "fresh.bin")
    touch(live, old)
    val foreign = mkdir(root, "other_stale")
    touch(mkfile(foreign, "blob.bin"), old)
    touch(foreign, old)

    WorkDir.reap(root)

    assert(!stale.exists())
    assert(recent.exists() && new File(recent, "blob.bin").exists())
    assert(live.exists() && new File(live, "fresh.bin").exists())
    assert(foreign.exists() && new File(foreign, "blob.bin").exists())
  }

  test("removeTagged deletes one session's graft_ dirs and keeps " +
      "other sessions' and dirs without the prefix") {
    val root = new File(tempDir("workdir-spec"))
    val own = mkdir(root, "graft_idx_app1")
    mkfile(mkdir(own, "delta_1"), "blob.bin")
    val ownKeyed = mkdir(root, "graft_stage_app1_7f3a")
    val other = mkdir(root, "graft_idx_app2")
    val foreign = mkdir(root, "other_app1")

    WorkDir.removeTagged(root, "app1")

    assert(!own.exists() && !ownKeyed.exists())
    assert(other.exists() && foreign.exists())
  }
}
