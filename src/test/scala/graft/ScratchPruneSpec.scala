package graft

import java.nio.file.Files

/**
 * The round-trip scratch prune deletes only DEAD runs' stale dirs: a
 * dir older than a day whose trailing `_<pid>` is a live process stays
 * (its owner may still re-read it lazily), one whose pid has exited
 * goes, and fresh or foreign dirs are never touched. Replay
 * checkpoints (`graft_ck_<sink>_<pid>`) follow the same rule.
 */
class ScratchPruneSpec extends SparkTestBase {

  private def mkdir(root: java.io.File, name: String,
      ageMs: Long, now: Long): java.io.File = {
    val d = new java.io.File(root, name)
    assert(d.mkdir())
    Files.writeString(new java.io.File(d, "part-0").toPath, "x")
    assert(d.setLastModified(now - ageMs))
    d
  }

  test("a stale dir with a live pid is kept; one with a dead pid is " +
      "pruned") {
    val root = tempDir("graft-prune-spec").toFile
    val now = System.currentTimeMillis()
    val day = 24L * 3600 * 1000
    val live = ProcessHandle.current().pid()
    // one short-lived child, reaped before use: its pid is no longer live
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    val dead = child.pid()
    assert(!ProcessHandle.of(dead).isPresent)
    val staleLive = mkdir(root, s"graft_csv__tmp_out_$live", 2 * day, now)
    val staleDead = mkdir(root, s"graft_csv__tmp_out_$dead", 2 * day, now)
    val freshDead = mkdir(root, s"graft_csv__tmp_new_$dead", 60000L, now)
    val foreign = mkdir(root, s"graft_orc__tmp_out_$dead", 2 * day, now)
    try {
      Scratch.prune(root, "graft_csv", now)
      assert(staleLive.isDirectory, "a live owner's scratch was deleted")
      assert(!staleDead.exists(), "a dead run's stale scratch survived")
      assert(freshDead.isDirectory, "scratch younger than a day was deleted")
      assert(foreign.isDirectory, "another prefix's scratch was deleted")
    } finally {
      Seq(staleLive, freshDead, foreign).foreach { d =>
        Option(d.listFiles()).foreach(_.foreach(_.delete()))
        d.delete()
      }
      root.delete()
    }
  }

  test("a day-old replay checkpoint of a dead pid is pruned; the same " +
      "name with the live pid is kept") {
    val root = tempDir("graft-prune-spec").toFile
    val now = System.currentTimeMillis()
    val dayOld = 24L * 3600 * 1000 + 60000L
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    assert(!ProcessHandle.of(child.pid()).isPresent)
    val sink = "st_window_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val live = ProcessHandle.current().pid()
    val kept = mkdir(root, s"graft_ck_${sink}_$live", dayOld, now)
    val gone = mkdir(root, s"graft_ck_${sink}_${child.pid()}", dayOld, now)
    try {
      Scratch.prune(root, "graft_ck", now)
      assert(kept.isDirectory, "a live replay's checkpoint was deleted")
      assert(!gone.exists(), "a dead replay's checkpoint survived")
    } finally Scratch.delete(root)
  }
}
