package graft

import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r18 item 6's "done" bar: the tmpfs-scratch opt-out must fire
  * WITHOUT a human exporting SPARK_GRAFT_SCRATCH_DISK — the r18 300×
  * bracket was kernel-OOM-killed because RAM-backed shuffle scratch and
  * the JVM heap shared the same 128 GB while the env var sat unset. The
  * decision core is a pure function of the input-directory size, pinned
  * here; the env override (both directions) stays in `shmScratch` and is
  * exercised by the bracket protocol itself.
  */
class BenchScratchSpec extends AnyFunSuite {

  test("gate-scale inputs keep tmpfs scratch") {
    // sf0.001 / sf0.01 / sf0.1 are all well under a GiB (sf0.1 ≈ 16 MiB)
    assert(!Bench.scratchWantsDisk(16L << 20))
    assert(!Bench.scratchWantsDisk((1L << 30) - 1))
  }

  test("data-sized inputs (a 100x-bracket directory) take the disk") {
    // the r18 100x bracket directory was ~1.6 GiB; 300x ~4.8 GiB with
    // ~54 GB of tmpfs shuffle before the kernel OOM
    assert(Bench.scratchWantsDisk(1L << 30))
    assert(Bench.scratchWantsDisk(1600L << 20))
    assert(Bench.scratchWantsDisk(5L << 30))
  }

  test("dirBytes sums leaf files recursively") {
    val d = new java.io.File(graft.core.Scratch.dir("graft-scratch-spec"))
    val sub = new java.io.File(d, "sub"); sub.mkdirs()
    java.nio.file.Files.write(new java.io.File(d, "a.bin").toPath, new Array[Byte](1000))
    java.nio.file.Files.write(new java.io.File(sub, "b.bin").toPath, new Array[Byte](500))
    assert(Bench.dirBytes(d) == 1500L)
    assert(Bench.dirBytes(new java.io.File(d, "missing")) == 0L)
  }
}
