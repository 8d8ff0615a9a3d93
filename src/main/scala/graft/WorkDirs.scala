package graft

/** Per-JVM scratch directories under `java.io.tmpdir` with a full
  * lifecycle, for the handful of rows that need an on-disk artifact
  * (the d163 catalog appends, the d174 multi-file stream source):
  *
  *  1. the path is `graft_<family>_<pid>` — PID-suffixed so two JVMs on
  *     one host (bench + verify side by side) never wipe each other's
  *     in-flight artifact;
  *  2. on the first acquisition of a family in this JVM, sibling dirs of
  *     the same family whose PID is NO LONGER ALIVE are swept — the dirs
  *     a killed JVM left behind (PID-suffixing alone would leak one dir
  *     per dead JVM into tmpdir forever, the slow form of the leak the
  *     fixed path was introduced to stop);
  *  3. a shutdown hook wipes this JVM's own dir on clean exit, so the
  *     steady state on a quiet host is zero leftover dirs.
  *
  * Each `acquire` also wipes the dir's CONTENT — callers get a fresh dir
  * per evaluation (bench runs each query 4x in one JVM; append-style
  * artifacts would otherwise accumulate rows across samples).
  */
object WorkDirs {
  private val swept =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // per-family acquisition lock: two threads acquiring the SAME family
  // concurrently would otherwise interleave wipe(mine)+mkdirs and one
  // could delete the other's in-flight files. The
  // lock makes each acquire atomic; concurrent USE of one family after
  // acquire remains unsupported by contract — one dir per family per
  // JVM, and every acquire wipes it (Verify/Bench run queries
  // sequentially; tests use per-suite family names).
  private val familyLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def acquire(family: String): java.io.File =
    familyLocks.computeIfAbsent(family, _ => new Object).synchronized {
      acquireLocked(family)
    }

  private def acquireLocked(family: String): java.io.File = {
    require(family.matches("[A-Za-z0-9_.-]+"), s"unsafe family name: $family")
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val prefix = s"graft_${family}_"
    val mine = new java.io.File(tmp, prefix + ProcessHandle.current().pid())
    if (swept.add(family)) {
      Option(tmp.listFiles()).foreach(_.foreach { f =>
        if (f.isDirectory && f.getName.startsWith(prefix) &&
            f.getName != mine.getName) {
          // sweep only what is PROVABLY a dead sibling: a parseable
          // POSITIVE PID suffix whose process is gone. Anything else
          // (non-numeric, non-positive — ProcessHandle.of throws on
          // those) was not created by this code; leave it alone rather
          // than guess.
          f.getName.stripPrefix(prefix).toLongOption.filter(_ > 0)
            .foreach { p =>
              val h = ProcessHandle.of(p)
              if (!(h.isPresent && h.get.isAlive)) wipe(f)
            }
        }
      })
      Runtime.getRuntime.addShutdownHook(new Thread(() => wipe(mine)))
    }
    wipe(mine)
    // contract: an EXISTING empty directory — callers write into it
    // directly (Files.move needs the parent present)
    mine.mkdirs()
    mine
  }

  private def wipe(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(wipe))
    f.delete(); ()
  }
}
