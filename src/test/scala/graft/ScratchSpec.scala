package graft.operators

import java.nio.file.Paths
import org.scalatest.funsuite.AnyFunSuite

/** The scratch-placement decision (r14, verdict #6 / ADVICE): tmpfs is
  * auto-chosen only with enough free space; an explicit env always
  * wins; everything else falls back to java.io.tmpdir. */
class ScratchSpec extends AnyFunSuite {
  private val shm = Paths.get("/dev/shm")
  private val tmp = Paths.get("/tmp")
  private val gib = 1L << 30

  test("explicit SPARK_GRAFT_SCRATCH wins regardless of tmpfs state") {
    val (p, why) = Scratch.chooseBase(
      Map("SPARK_GRAFT_SCRATCH" -> "/mnt/ssd0"), Some(shm), 0L, tmp)
    assert(p == Paths.get("/mnt/ssd0") && why == "SPARK_GRAFT_SCRATCH")
  }

  test("tmpfs chosen when free space meets the default 32 GiB bound") {
    val (p, why) = Scratch.chooseBase(Map.empty, Some(shm), 33L * gib, tmp)
    assert(p == shm && why == "tmpfs")
  }

  test("tmpfs rejected below the bound; fallback is java.io.tmpdir") {
    val (p, why) = Scratch.chooseBase(Map.empty, Some(shm), 31L * gib, tmp)
    assert(p == tmp && why.contains("below 32 GiB"))
  }

  test("bound is env-tunable (SPARK_GRAFT_SCRATCH_MIN_FREE_GB)") {
    val (lo, _) = Scratch.chooseBase(
      Map("SPARK_GRAFT_SCRATCH_MIN_FREE_GB" -> "2"), Some(shm), 3L * gib, tmp)
    assert(lo == shm)
    val (hi, _) = Scratch.chooseBase(
      Map("SPARK_GRAFT_SCRATCH_MIN_FREE_GB" -> "64"), Some(shm), 40L * gib, tmp)
    assert(hi == tmp)
  }

  test("a 15 GiB tmpfs has a floor of a quarter of its size") {
    val (p, why) = Scratch.chooseBase(Map.empty, Some(shm), 12L * gib, tmp, 15L * gib)
    assert(p == shm && why == "tmpfs")
    val (lo, loWhy) = Scratch.chooseBase(Map.empty, Some(shm), 2L * gib, tmp, 15L * gib)
    assert(lo == tmp && loWhy.contains("below 3.75 GiB"), loWhy)
    // the env floor still wins over the proportional one
    val (hi, _) = Scratch.chooseBase(Map("SPARK_GRAFT_SCRATCH_MIN_FREE_GB" -> "13"),
      Some(shm), 12L * gib, tmp, 15L * gib)
    assert(hi == tmp)
  }

  test("a tmpfs of 128 GiB or more keeps the 32 GiB floor") {
    val (p, why) = Scratch.chooseBase(Map.empty, Some(shm), 31L * gib, tmp, 512L * gib)
    assert(p == tmp && why.contains("below 32 GiB"), why)
  }

  test("no writable tmpfs: java.io.tmpdir") {
    val (p, _) = Scratch.chooseBase(Map.empty, None, Long.MaxValue, tmp)
    assert(p == tmp)
  }

  test("free-space probe is not consulted when env is explicit (lazy)") {
    // shmUsableBytes is by-name: an explicit env must not touch it
    val (p, _) = Scratch.chooseBase(Map("SPARK_GRAFT_SCRATCH" -> "/x"),
      Some(shm), throw new IllegalStateException("probed"), tmp)
    assert(p == Paths.get("/x"))
  }
}
