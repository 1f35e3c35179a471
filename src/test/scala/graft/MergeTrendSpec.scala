package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class MergeTrendSpec extends AnyFunSuite with TempDirs {

  private def write(dir: Path, name: String, json: String): String = {
    val p = dir.resolve(name)
    Files.writeString(p, json + "\n")
    p.toString
  }

  private def header(mult: Int = 10) =
    s""""metric":"scale_trend","mult":$mult,"mid_factor":3,"cpus":32"""

  private def part(mult: Int, workloads: String) =
    s"""{${header(mult)},"workloads":{$workloads}}"""

  private val wlA =
    """"pagerank":{"points":[{"size":10,"rows":10,"sec":1.00}],"exponent":null,"r2":null}"""
  private val wlB =
    """"cc":{"points":[{"size":20,"rows":20,"sec":2.00}],"exponent":null,"r2":null}"""
  private val wlA2 =
    """"pagerank":{"points":[{"size":10,"rows":10,"sec":9.99}],"exponent":null,"r2":null}"""

  test("merges parts, preserves first-seen order, last part wins per workload") {
    val dir = tempDir("mergetrend")
    val out = dir.resolve("merged.json").toString
    MergeTrend.main(Array(out,
      write(dir, "a.json", part(10, wlA)),
      write(dir, "b.json", part(10, wlB)),
      write(dir, "a2.json", part(10, wlA2))))
    val merged = Files.readString(java.nio.file.Paths.get(out))
    // both workloads present, pagerank before cc (first-seen), and the
    // re-run's 9.99 overrode the original 1.0
    assert(merged.contains(""""mult":10"""))
    val ip = merged.indexOf("\"pagerank\"")
    val ic = merged.indexOf("\"cc\"")
    assert(ip >= 0 && ic >= 0 && ip < ic)
    assert(merged.contains("9.99") && !merged.contains("\"sec\":1.0,"))
  }

  test("refuses to merge parts captured under different protocols") {
    val dir = tempDir("mergetrend")
    val out = dir.resolve("merged.json").toString
    val e = intercept[IllegalArgumentException] {
      MergeTrend.main(Array(out,
        write(dir, "a.json", part(10, wlA)),
        write(dir, "b.json", part(5, wlB))))
    }
    assert(e.getMessage.contains("mult"))
    assert(!Files.exists(java.nio.file.Paths.get(out)))
  }

  test("requires an output and at least one part") {
    intercept[IllegalArgumentException] { MergeTrend.main(Array("only-out")) }
  }
}
