package graft.tools

import java.io.{ByteArrayOutputStream, File}

import graft.SparkSpec

class ProbeSpec extends SparkSpec {

  test("Probe prints stage rows, operator rows with row counts and a total line") {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    def graftDirs(): Set[String] =
      tmp.listFiles().map(_.getName).filter(_.startsWith("graft_")).toSet
    val before = graftDirs()

    val out = new ByteArrayOutputStream
    Console.withOut(out) {
      Probe.run(spark, "/root/testdata/sf0.01", Seq("q01_scan_filter"))
    }
    val lines = out.toString("UTF-8").linesIterator.toSeq
    val shown = lines.mkString("\n")

    assert(lines.exists(_.matches("""\[probe\] q01_scan_filter stage +\d+ +\d+ +\d+ .*""")),
      s"no stage row:\n$shown")
    assert(lines.exists(_.matches("""\[probe\] q01_scan_filter op +\S+ rows=\d+.*""")),
      s"no operator row with a rows figure:\n$shown")
    assert(lines.exists(_.matches(
      """\[probe\] q01_scan_filter total wall=\d+ ms jobs=\d+ stages=\d+ tasks=\d+ .*""")),
      s"no total line:\n$shown")
    assert(graftDirs() -- before === Set.empty)
  }
}
