package graft

import java.nio.file.{FileSystemException, Files, NoSuchFileException, Path, Paths}
import java.nio.file.StandardCopyOption.ATOMIC_MOVE
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.ReentrantLock
import scala.util.matching.Regex

/** The on-disk artifacts the queries, fixtures and harnesses share: one
  * scratch root, one path scheme and one publish step. */
object Artifacts {
  /** The gitignored scratch root inside the repo. */
  val Root = "/root/repo/.scratch"

  /** `<Root>/<name>/<sf>`, where `<sf>` is the last path element of
    * `sfDir` (an input SF dir, or a per-run key). */
  def dir(name: String, sfDir: String): String =
    s"$Root/$name/${new java.io.File(sfDir).getName}"

  /** The write-once artifact `<Root>/<name>_v<version>/<sf>`, built by
    * `build` on first use and returned as a path to read back.
    *
    * A deterministic function of its input dir is built once per
    * (sf, version) and read by every later query, JVM and run; bump
    * `version` whenever the build changes what it writes, so a stale
    * artifact is never read back. `build` writes into a dot-prefixed
    * staging dir named with this JVM's pid; `_DONE` is written there last
    * and the staging dir is published by one atomic rename, so no reader
    * ever sees a partial artifact. When another process published first,
    * its artifact is kept and this build is dropped. A target dir without
    * `_DONE` (a build from before this protocol, or a torn one) is
    * rebuilt. Building also removes `<name>_v<k>` for every `k` below
    * `version`, the unversioned `<name>` a build from before versioning
    * left, and staging dirs of dead processes. Within a JVM a
    * re-entrant lock per target keeps concurrent callers from building
    * twice; a build may call `once` for another target. */
  def once(name: String, version: Int, sfDir: String)(
      build: String => Unit): String = {
    val out = dir(s"${name}_v$version", sfDir)
    val target = Paths.get(out)
    def done(p: Path) = Files.isRegularFile(p.resolve("_DONE"))
    if (!done(target)) {
      val lock = locks.computeIfAbsent(out, _ => new ReentrantLock())
      lock.lock()
      try publish(target, replace = false, done) { stage =>
        sweepVersions(name, version)
        build(stage.toString)
        Files.createFile(stage.resolve("_DONE"))
      } finally lock.unlock()
    }
    out
  }

  private val locks = new ConcurrentHashMap[String, ReentrantLock]()
  private val Pid = ProcessHandle.current().pid()
  private val stagings = new AtomicLong()
  private val StagingName = """\.staging-(\d+)-\d+""".r

  /** Build `target` in `<parent>/.staging-<pid>-<n>/<leaf>` and publish it
    * by atomic rename. `complete` says whether a dir is a finished
    * publish; without `replace` a complete target is kept, and the build
    * is skipped or dropped. True when this call's build was published. */
  private[graft] def publish(target: Path, replace: Boolean,
      complete: Path => Boolean)(build: Path => Unit): Boolean = {
    if (!replace && complete(target)) return false
    val parent = target.getParent
    Files.createDirectories(parent)
    sweepStaging(parent)
    val staging = parent.resolve(s".staging-$Pid-${stagings.incrementAndGet()}")
    val stage = staging.resolve(target.getFileName)
    try {
      Files.createDirectories(stage)
      build(stage)
      @annotation.tailrec
      def install(k: Int): Boolean =
        if (renamed(stage, target)) true
        else if (!replace && complete(target)) false // another process won
        else {
          // an incomplete target, or one `replace` supersedes: move it
          // aside (a concurrent caller may already have) and retry
          try Files.move(target, staging.resolve(s"old$k"), ATOMIC_MOVE)
          catch { case _: NoSuchFileException => () }
          install(k + 1)
        }
      install(0)
    } finally QueryUtil.deleteRecursively(staging.toFile)
  }

  /** Atomic rename; false when it failed because `to` exists. */
  private def renamed(from: Path, to: Path): Boolean =
    try { Files.move(from, to, ATOMIC_MOVE); true }
    catch { case _: FileSystemException if Files.exists(to) => false }

  /** Remove the staging dirs under `parent` whose process is gone. */
  private def sweepStaging(parent: Path): Unit =
    children(parent.toFile, StagingName).foreach { case (f, pid) =>
      if (!ProcessHandle.of(pid).isPresent) QueryUtil.deleteRecursively(f)
    }

  /** Remove every `<name>_v<k>` with `k` below `version`, and the bare
    * `<name>` as version 0. */
  private def sweepVersions(name: String, version: Int): Unit = {
    val root = new java.io.File(Root)
    QueryUtil.deleteRecursively(new java.io.File(root, name))
    children(root, (Regex.quote(name) + """_v(\d+)""").r).foreach {
      case (f, k) => if (k < version) QueryUtil.deleteRecursively(f)
    }
  }

  /** Entries of `dir` whose name matches `pattern`, with its one number. */
  private def children(dir: java.io.File,
      pattern: Regex): Seq[(java.io.File, Long)] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      f.getName match {
        case pattern(n) => n.toLongOption.map(f -> _)
        case _ => None
      }
    }
}
