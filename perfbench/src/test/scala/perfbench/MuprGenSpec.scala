package perfbench

import java.io.File
import java.nio.file.{Files => JFiles}

import org.scalatest.funsuite.AnyFunSuite

class MuprGenSpec extends AnyFunSuite {
  private val shape = MuprShape(rows = 3000, malformedShare = 0.02)

  private def gen(seed: Long): (File, MuprData) = {
    val dir = JFiles.createTempDirectory("perfbench_gen").toFile
    (dir, MuprGen.generate(dir, seed, shape))
  }

  /** Every generated file, by its path under the output dir, as bytes. */
  private def contents(dir: File): Map[String, Seq[Byte]] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(dir).map(f => dir.toPath.relativize(f.toPath).toString ->
      JFiles.readAllBytes(f.toPath).toSeq).toMap
  }

  test("the same seed gives byte-identical files and expectations") {
    val (d1, m1) = gen(7)
    val (d2, m2) = gen(7)
    assert(contents(d1) === contents(d2))
    assert(m1.copy(dataDir = m2.dataDir, triggerCsv = m2.triggerCsv) === m2)
    val (d3, _) = gen(8)
    assert(contents(d1) !== contents(d3))
  }

  test("expectations match the lines written") {
    val (_, m) = gen(11)
    val lines = m.dataDir.listFiles().toSeq.flatMap { f =>
      new String(JFiles.readAllBytes(f.toPath), "UTF-8").split('\n').toSeq
    }
    assert(lines.size === m.lines)
    assert(m.malformed > 0 && m.malformed < m.lines / 10)
    val fields = lines.map(_.split(MuprGen.Sep))
    assert(fields.forall(_.length == 11))
    assert(fields.count(f => !f(0).forall(_.isDigit)) === m.malformed)
    assert(m.units.map(_.cells.values.sum).sum === m.cleanRows)
    // fan-in stays within the shape, and some cells use all of it
    val fanIn = m.units.flatMap(_.cells.values)
    assert(fanIn.min === 1 && fanIn.max === shape.maxFanIn)
  }
}
