package graft.operators

import java.nio.file.{Files, Path, Paths}

/** Scratch placement for ephemeral per-run artifacts: replay-twin
  * source copies / checkpoints / state deltas, and the stored-artifact
  * rows' write-then-read-back indexes. All of it is bounded,
  * per-invocation data (overwritten or deleted by the owning run) —
  * never durable state — so it belongs on the fastest scratch
  * available (guide §6: sensible placement for what you write).
  *
  * Resolution order: `SPARK_GRAFT_SCRATCH` when set (a cluster points
  * it at local SSD), else `/dev/shm` when writable AND it has enough
  * free space (tmpfs beats the ext4 `/tmp` for the many tiny
  * fsync-ordered files a streaming checkpoint writes per micro-batch),
  * else `java.io.tmpdir`. Results are byte-identical — only the
  * placement of temp I/O changes.
  *
  * Free-space guard: tmpfs is RAM — shuffle
  * SPILL landing there defeats spill's memory-relief purpose, and a
  * larger-SF run could ENOSPC mid-job. `/dev/shm` is auto-chosen only
  * when its usable space is at least `SPARK_GRAFT_SCRATCH_MIN_FREE_GB`
  * (default: the smaller of 32 GiB — an order of magnitude above the
  * bounded sf0.1 footprint — and a quarter of the tmpfs's total size,
  * so a small machine's tmpfs qualifies while three quarters of it stay
  * free); below that the choice falls back to `java.io.tmpdir`, and the
  * decision is logged once.
  * An explicit `SPARK_GRAFT_SCRATCH` always wins — the operator knows
  * their media.
  */
object Scratch {
  private val maxMinFreeBytes = 32L << 30

  /** The placement decision, separated from the environment for the
    * spec: explicit env beats guarded tmpfs beats tmpdir. A tmpfs of
    * unknown total size gets the 32 GiB floor. */
  private[operators] def chooseBase(env: Map[String, String],
      shmDir: Option[Path], shmUsableBytes: => Long,
      tmpDir: Path, shmTotalBytes: => Long = Long.MaxValue): (Path, String) = {
    val fromEnv = env.get("SPARK_GRAFT_SCRATCH").map(Paths.get(_))
    def minFree = env.get("SPARK_GRAFT_SCRATCH_MIN_FREE_GB")
      .flatMap(s => scala.util.Try(s.trim.toLong << 30).toOption)
      .getOrElse(math.min(maxMinFreeBytes, shmTotalBytes / 4))
    fromEnv match {
      case Some(p) => (p, "SPARK_GRAFT_SCRATCH")
      case None => shmDir match {
        case Some(shm) if shmUsableBytes >= minFree => (shm, "tmpfs")
        case Some(_) =>
          val gib = (BigDecimal(minFree) / (1L << 30))
            .setScale(2, BigDecimal.RoundingMode.HALF_UP).bigDecimal.stripTrailingZeros
          (tmpDir, s"java.io.tmpdir (tmpfs below ${gib.toPlainString} GiB free)")
        case None => (tmpDir, "java.io.tmpdir")
      }
    }
  }

  lazy val base: Path = {
    val shm = Paths.get("/dev/shm")
    val shmOk = Files.isDirectory(shm) && Files.isWritable(shm)
    val (p, why) = chooseBase(sys.env,
      if (shmOk) Some(shm) else None,
      shm.toFile.getUsableSpace,
      Paths.get(System.getProperty("java.io.tmpdir")),
      shm.toFile.getTotalSpace)
    System.err.println(s"[graft.Scratch] scratch base: $p ($why)")
    p
  }

  /** Create a fresh scratch dir under [[base]]. Registered for
    * JVM-exit deletion as a backstop (owners that fill it are expected
    * to clean up themselves; Spark removes its own local-dir subtrees
    * on shutdown, after which the empty parent can go). */
  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(base, prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  /** A fixed-name scratch path under [[base]] (for per-SF stored
    * artifacts that `mode("overwrite")` each invocation). */
  def fixedPath(name: String): String =
    base.resolve(name).toString
}
