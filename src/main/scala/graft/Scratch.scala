package graft

/** Scratch directories for queries that materialize artifacts
  * (persisted indexes, streaming sources/checkpoints, register
  * artifacts): everything is created under ONE per-JVM root that a
  * shutdown hook deletes recursively, so repeated bench captures,
  * suite runs and Verify passes stop accumulating dead copies of the
  * corpus in the system temp dir. Deletion is best-effort — a failure
  * at exit must never mask the run's real outcome.
  *
  * PLACEMENT (r16 optimization round, guide §1 measure-first + §6):
  * the all-thread stack sampler read the heavy iterative queries
  * spending whole seconds in `FileOutputStream.open0` /
  * `IndexShuffleBlockResolver.writeMetadataFileAndCommit` — shuffle
  * and artifact FILE CREATION, not compute. This host's system temp
  * dir is ext4 (measured 0.28 ms/create vs 0.009 ms on the RAM-backed
  * `/dev/shm` tmpfs, 31×, worse under 32 concurrent creators). Scratch
  * therefore roots itself on the fastest writable scratch tier:
  * `$SPARK_GRAFT_SCRATCH_DIR` when set (`off` forces the system temp
  * dir), else `/dev/shm` when writable, else the system temp dir —
  * the same decision a production deployment makes when it points
  * `spark.local.dir` at its NVMe array instead of the OS disk. The
  * shutdown-hook cleanup bounds tmpfs growth (and [[sparkLocalDir]]
  * lives under the same self-cleaning root, so block-manager dirs
  * from a killed run can't leak RAM across runs). Placement changes
  * WHERE bytes land, never what any query computes.
  *
  * SCALE SAFETY (r17, VERDICT r16 #2): tmpfs is only the right tier
  * when the host has RAM to spare — shuffle SPILL exists precisely
  * because memory ran out, so a RAM-backed spill tier on a
  * memory-tight executor is self-defeating (it evicts page cache and
  * courts the OOM killer). The unconditional r16 default is therefore
  * gated on measured headroom: /dev/shm is picked only when
  * MemAvailable ≥ [[TmpfsHeadroomFactor]] × the JVM max heap
  * ([[tmpfsHeadroomOk]]) — this 128 GiB sandbox with an 8 GiB heap
  * passes easily, a production executor whose heap is sized to most
  * of its container does not and lands on disk. The env override
  * stays the explicit switch either way (`SPARK_GRAFT_SCRATCH_DIR` =
  * path | `off`). */
object Scratch {

  /** tmpfs is chosen only when available RAM ≥ this × max heap: the
    * scratch tier must never compete with the heap (or the page
    * cache) for memory the workload itself needs. 4× the heap leaves
    * room for the heap itself, the shuffle/artifact bytes, and OS
    * cache — conservative by design (the fallback is merely disk). */
  val TmpfsHeadroomFactor: Long = 4L

  /** MemAvailable from /proc/meminfo in bytes (-1 off Linux / on
    * read failure — which fails the gate, the conservative side). */
  def memAvailableBytes(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines()
        .find(_.startsWith("MemAvailable:"))
        .map(_.split("\\s+")(1).toLong * 1024L)
        .getOrElse(-1L)
      finally src.close()
    } catch { case _: Exception => -1L }

  /** The headroom gate, parameterized for the spec: does a host with
    * `availBytes` of reclaimable RAM have room for a tmpfs scratch
    * tier next to a `maxHeapBytes` JVM? */
  def tmpfsHeadroomOk(availBytes: Long, maxHeapBytes: Long): Boolean =
    availBytes >= TmpfsHeadroomFactor * maxHeapBytes

  private lazy val root: java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    val base = sys.env.get("SPARK_GRAFT_SCRATCH_DIR") match {
      case Some("off") => None
      case Some(dir) => Some(Paths.get(dir))
      case None =>
        Some(Paths.get("/dev/shm")).filter(p =>
          Files.isDirectory(p) && Files.isWritable(p) &&
            tmpfsHeadroomOk(memAvailableBytes(),
              Runtime.getRuntime.maxMemory))
    }
    val r = base match {
      case Some(b) => Files.createTempDirectory(b, "graft_scratch_")
      case None => Files.createTempDirectory("graft_scratch_")
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(r)))
    r
  }

  /** Per-JVM `spark.local.dir` under the self-cleaning root —
    * [[GraftSession]] applies it so shuffle/spill scratch rides the
    * same fast tier (see the placement note above). Resolved lazily at
    * first session build; stable for the JVM's lifetime. */
  lazy val sparkLocalDir: String = dir("spark_local_")

  /** A fresh directory under the self-cleaning root. */
  def dir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(root, prefix).toString

  private def delete(p: java.nio.file.Path): Unit =
    try {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => try Files.deleteIfExists(f) catch {
          case _: java.io.IOException => ()
        })
    } catch { case scala.util.control.NonFatal(_) => () }
}
