package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The bench's calibration gate (`calib_suspect`, bench/PROTOCOL.md). */
class BenchCalibSpec extends AnyFunSuite {

  test("drift beyond 1.3x in either direction is flagged") {
    assert(!Bench.drifted(100.0, 129.0))
    assert(!Bench.drifted(129.0, 100.0))
    assert(Bench.drifted(100.0, 131.0))
    assert(Bench.drifted(131.0, 100.0))
    assert(!Bench.drifted(0.0, 500.0), "a missing stamp is not drift")
  }

  test("reference is the newest snapshot carrying calib_mt_ms, untagged before tagged") {
    val dir = Files.createTempDirectory("graft-bench-snaps")
    def snap(name: String, body: String): Unit = Files.writeString(dir.resolve(name), body)
    assert(Bench.newestSnapshotCalibMt(dir.toFile).isEmpty)
    snap("BENCH_local_r9.json", """{"metric":"total","calib_mt_ms":10.0}""")
    snap("BENCH_local_r17_baseline.json", """{"metric":"total","calib_mt_ms":30.5}""")
    snap("BENCH_local_r17.json", """{"metric":"total","calib_mt_ms":20.25}""")
    snap("BENCH_local_r18_baseline.json", """{"metric":"total"}""") // pre-r17 shape
    snap("notes.txt", """"calib_mt_ms":99.0""")
    assert(Bench.newestSnapshotCalibMt(dir.toFile).contains(20.25))
    snap("BENCH_local_r20_baseline.json", """{"calib_ms":1.0,"calib_mt_ms":40.0}""")
    assert(Bench.newestSnapshotCalibMt(dir.toFile).contains(40.0))
    assert(Bench.newestSnapshotCalibMt(dir.resolve("absent").toFile).isEmpty)
  }
}
