package graft

import java.io.File

/** Throwaway local directories — round-trip query scratch and bounded
  * replay checkpoints, never anything kept: one root choice, one
  * `<prefix>_<key>_<pid>` name, one dead-run prune, one recursive
  * delete. */
private[graft] object Scratch {

  /** `/dev/shm` when it has more than `floorBytes` usable, else
    * `java.io.tmpdir`: tmpfs is the fastest local medium, but
    * containers often mount a 64 MB one, and ENOSPC mid-query is
    * worse than a slower disk. */
  def root(floorBytes: Long): File = {
    val shm = new File("/dev/shm")
    if (shm.isDirectory && shm.getUsableSpace > floorBytes) shm
    else new File(System.getProperty("java.io.tmpdir"))
  }

  /** The pid key keeps concurrent processes off each other's scratch;
    * the first call per root and prefix in a JVM prunes dead runs'. */
  def dir(prefix: String, key: String, floorBytes: Long): File = {
    val r = root(floorBytes)
    if (pruned.add(new File(r, prefix).getPath))
      prune(r, prefix, System.currentTimeMillis())
    new File(r, s"${prefix}_${key}_${ProcessHandle.current().pid()}")
  }

  private val pruned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Deletes `prefix_*_<pid>` dirs under `root` that are older than a
    * day AND whose pid is no live process: a long-running owner's
    * scratch, re-read later by its lazy plan, is never deleted from
    * under it. Best-effort. */
  def prune(root: File, prefix: String, nowMs: Long): Unit = try {
    def ownerAlive(name: String): Boolean =
      name.substring(name.lastIndexOf('_') + 1).toLongOption
        .exists(pid => ProcessHandle.of(pid).isPresent)
    val cutoff = nowMs - 24L * 3600 * 1000
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(prefix + "_") &&
        f.lastModified() < cutoff && !ownerAlive(f.getName))
      .foreach(delete)
  } catch { case _: Throwable => () }

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
