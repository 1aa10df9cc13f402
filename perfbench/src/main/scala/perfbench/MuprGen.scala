package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** Shape of a generated MUPR load.
  *
  * @param rows           clean measurement lines to write (approximate:
  *                       the last unit is completed, never cut short)
  * @param lots           trigger lots; each lot has its own work week and
  *                       sequence key, i.e. its own rowKey prefix
  * @param filesPerLot    data files per lot
  * @param tests          distinct test names a unit can carry
  * @param maxFanIn       measures per (unit, test) cell, drawn uniformly
  *                       from 1 to this: the pack fan-in
  * @param malformedShare chance that a malformed line follows a clean one
  * @param testSkew       exponent of the tests-per-unit draw; above 1 most
  *                       units carry few tests and a few carry many
  */
final case class MuprShape(
    rows: Int = 50000,
    lots: Int = 4,
    filesPerLot: Int = 2,
    tests: Int = 16,
    maxFanIn: Int = 4,
    malformedShare: Double = 0.002,
    testSkew: Double = 2.0)

/** One unit's row key and the measure count of each of its test cells. */
final case class UnitCells(rowKey: String, cells: Map[String, Int])

/** What a generated load must read back as.
  *
  * @param lines     every line written, malformed ones included
  * @param malformed lines built to fail the MUPR schema
  * @param units     per-unit expectations, in generation order
  */
final case class MuprData(
    dataDir: File,
    triggerCsv: File,
    lines: Long,
    malformed: Long,
    inputBytes: Long,
    units: IndexedSeq[UnitCells]) {
  def cleanRows: Long = lines - malformed
}

/** Seeded, single-threaded MUPR generator: raw `\u0000`-delimited
  * 11-column measurement files (the reference's `mds_parametric_result`
  * layout) spread over several lots, plus the trigger CSV that maps each
  * file name to its lot. The same seed and shape give byte-identical
  * files; the returned [[MuprData]] holds the per-cell counts every
  * check compares against.
  */
object MuprGen {
  val Sep: Char = '\u0000'
  val TestNames: IndexedSeq[String] = (0 until 64).map(i => f"t_$i%02d")

  def lotName(lot: Int): String = f"L$lot%03d"
  def workWeek(lot: Int): Int = 202301 + lot
  def seqKey(lot: Int): Int = 1 + lot
  def fileName(lot: Int, file: Int): String =
    s"${lotName(lot)}_${workWeek(lot)}_f${file}_mds_parametric_result.dat"

  /** `Lot\0WW\0seq\0unit`, the rowKey `KvStore.pack` builds from the
    * enriched columns. Unit keys are six digits wide, so one unit's key is
    * never a prefix of another's. */
  def rowKey(lot: Int, unit: Int): String =
    Seq(lotName(lot), workWeek(lot).toString, seqKey(lot).toString,
      unit.toString).mkString(Sep.toString)

  def generate(dir: File, seed: Long, shape: MuprShape): MuprData = {
    require(shape.tests <= TestNames.size, s"at most ${TestNames.size} tests")
    val rng = new SplittableRandom(seed)
    val dataDir = new File(dir, "mupr")
    dataDir.mkdirs()
    val nFiles = shape.lots * shape.filesPerLot
    val outs = Array.tabulate(nFiles) { f =>
      new BufferedOutputStream(new FileOutputStream(
        new File(dataDir, fileName(f / shape.filesPerLot, f % shape.filesPerLot))),
        1 << 16)
    }
    val units = mutable.ArrayBuffer[UnitCells]()
    val line = new java.lang.StringBuilder(128)
    var clean = 0L
    var malformed = 0L
    val order = Array.range(0, shape.tests)
    try {
      var u = 0
      while (clean < shape.rows) {
        val f = u % nFiles
        val lot = f / shape.filesPerLot
        val unit = 100000 + u
        val nTests = 1 + ((shape.tests - 1) *
          math.pow(rng.nextDouble(), shape.testSkew)).toInt
        // partial Fisher-Yates: the unit's tests are the first nTests
        var i = 0
        while (i < nTests) {
          val j = i + rng.nextInt(shape.tests - i)
          val t = order(i); order(i) = order(j); order(j) = t
          i += 1
        }
        val cells = mutable.LinkedHashMap[String, Int]()
        i = 0
        while (i < nTests) {
          val test = TestNames(order(i))
          val testId = 1000 + order(i)
          val m = 1 + rng.nextInt(shape.maxFanIn)
          cells(test) = m
          var k = 0
          while (k < m) {
            val sub = 1 + rng.nextInt(4)
            line.setLength(0)
            fields(line, unit.toString, "SS0" + sub, (1 + rng.nextInt(3)).toString,
              (k + 1).toString, s"${k + 1}.0", testId.toString,
              rng.nextInt(100000).toString + "." + rng.nextInt(1000),
              vector(rng, "AI"), vector(rng, "PF"), "MMMM", test)
            write(outs(f), line)
            clean += 1
            if (rng.nextDouble() < shape.malformedShare) {
              // a non-numeric unit key fails the explicit-schema parse
              line.setLength(0)
              fields(line, "u" + unit, "SS01", "1", "1", "1.0", testId.toString,
                "0.5", "AAAA", "PPPP", "MMMM", test)
              write(outs(f), line)
              malformed += 1
            }
            k += 1
          }
          i += 1
        }
        units += UnitCells(rowKey(lot, unit), cells.toMap)
        u += 1
      }
    } finally outs.foreach(_.close())

    val trigger = new File(dir, "trigger.csv")
    val csv = new StringBuilder("File_Name,Lot,Lato_Start_WW,Lots_seq_key\n")
    for (f <- 0 until nFiles; lot = f / shape.filesPerLot)
      csv ++= s"${fileName(lot, f % shape.filesPerLot)},${lotName(lot)}," +
        s"${workWeek(lot)},${seqKey(lot)}\n"
    java.nio.file.Files.write(trigger.toPath, csv.toString.getBytes(UTF_8))
    val bytes = dataDir.listFiles().map(_.length).sum
    MuprData(dataDir, trigger, clean + malformed, malformed, bytes, units.toIndexedSeq)
  }

  private def fields(sb: java.lang.StringBuilder, fs: String*): Unit = {
    var first = true
    fs.foreach { f => if (!first) sb.append(Sep); sb.append(f); first = false }
    sb.append('\n')
  }

  private def write(out: BufferedOutputStream, sb: java.lang.StringBuilder): Unit =
    out.write(sb.toString.getBytes(UTF_8))

  private def vector(rng: SplittableRandom, pair: String): String = {
    val c = new Array[Char](4)
    var i = 0
    while (i < 4) { c(i) = pair.charAt(rng.nextInt(2)); i += 1 }
    new String(c)
  }
}
