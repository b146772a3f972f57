package graft

import java.io.File
import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/**
 * Source-layout rules that no compiler enforces, checked by reading the
 * files (no session): the shortest-string decimal encoding and the
 * moment closed forms are spelled only in `graft.functions.Exact`, the
 * environment is read only through the gate table, every checkpoint is
 * a counted one, every cache is made through `Caches`, the
 * tie-invariant rank decision lives only in `RangeRank`, and the
 * iterative loops' regime only in `Sessions.withLoop`.
 */
class SourceRulesSpec extends AnyFunSuite {

  private val root = new File("src/main/scala/graft")

  private def read(f: File): String = {
    val src = Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  private def operatorFiles: Seq[File] = {
    val dir = new File(root, "operators")
    assert(dir.isDirectory, s"run from the repository root: ${dir.getAbsolutePath}")
    dir.listFiles().filter(_.getName.endsWith(".scala")).sortBy(_.getName).toSeq
  }

  /** `file:line` of every match of `pattern` in `files`. */
  private def hits(files: Seq[File], pattern: String): Seq[String] =
    files.flatMap { f =>
      val text = read(f)
      pattern.r.findAllMatchIn(text)
        .map(m => s"${f.getName}:${text.take(m.start).count(_ == '\n') + 1}")
    }

  test("operators spell the decimal encoding only through graft.functions.Exact") {
    val rules = Seq(
      "decimal(28,18) type" -> """decimal\(28,18\)""",
      "string-cast chain" -> """cast\("string"\)\s*\.cast\(""",
      "local absorb" -> """def\s+absorb\b""")
    val files = operatorFiles
    assert(files.size > 10)
    rules.foreach { case (what, pattern) =>
      val found = hits(files, pattern)
      assert(found.isEmpty, s"$what outside Exact: ${found.mkString(", ")}")
    }
  }

  test("operators finish moment sums only through Exact.Moments") {
    // an operand: a name, a call like col("__gsx"), optionally cast
    val operand = """\w+(?:\([^()]*\))?(?:\.cast\([^()]*\))?"""
    // one level of nested parentheses inside a sqrt(...)
    val arg = """(?:[^()]|\([^()]*\))*"""
    val rules = Seq(
      // n·Σx² − (Σx)²: every variance, Pearson and OLS form has one
      "variance difference" -> ("""-\s*(""" + operand + """)\s*\*\s*\1(?![\w.(])"""),
      "product of difference radicands" ->
        ("""sqrt\(""" + arg + "-" + arg + """\)\s*\*\s*sqrt\("""))
    rules.foreach { case (what, pattern) =>
      val found = hits(operatorFiles, pattern)
      assert(found.isEmpty, s"$what outside Exact: ${found.mkString(", ")}")
    }
  }

  test("under operators/, only RangeRank.scala spells the shrink probe and the persist guard") {
    val rules = Seq(
      "distinct-count probe" -> """approx_count_distinct\(struct\(""",
      "scanShaped call" -> """scanShaped\(""")
    rules.foreach { case (what, pattern) =>
      val found = hits(operatorFiles, pattern)
      assert(found.exists(_.startsWith("RangeRank.scala:")), s"RangeRank must still hold the $what")
      assert(found.forall(_.startsWith("RangeRank.scala:")), s"$what outside RangeRank: ${found.mkString(", ")}")
    }
  }

  test("under operators/, no file reads the loop gate or sets a spark.sql conf") {
    val rules = Seq(
      "loop-regime gate read" -> """Gates\.LoopAqeOffEdges""",
      "session conf write" -> """\bconf\.(?:set|unset)\(""",
      "spark.sql conf key" -> "\"spark\\.sql\\.")
    rules.foreach { case (what, pattern) =>
      val found = hits(operatorFiles, pattern)
      assert(found.isEmpty, s"$what outside Sessions.withLoop: ${found.mkString(", ")}")
    }
    assert(hits(Seq(new File(root, "Sessions.scala")), """Gates\.LoopAqeOffEdges""").nonEmpty,
      "the loop entry must still read the gate")
  }

  test("under operators/ and in Sessions, only Gates.scala reads sys.env") {
    val found = hits(operatorFiles :+ new File(root, "Sessions.scala"), """sys\.env""")
    assert(found.nonEmpty, "the gate table must still read the env")
    assert(found.forall(_.startsWith("Gates.scala:")), s"sys.env read at ${found.mkString(", ")}")
  }

  /** Every `.scala` file under `src/main/scala`. */
  private def mainFiles: Seq[File] = {
    def scalaFiles(d: File): Seq[File] =
      d.listFiles().toSeq.sortBy(_.getName).flatMap { f =>
        if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val files = scalaFiles(new File("src/main/scala"))
    assert(files.exists(_.getName == "CountedCheckpoint.scala"), "the bridge moved")
    files
  }

  private def inCaches(hit: String): Boolean =
    hit.startsWith("Caches.scala:") || hit.startsWith("CountedCheckpoint.scala:")

  test("under src/main, only Caches.scala and its Spark bridge call localCheckpoint") {
    val files = mainFiles
    val found = hits(files, """\.localCheckpoint\b""")
    assert(found.exists(_.startsWith("Caches.scala:")), "Caches must still call the bridge")
    assert(found.forall(inCaches), s"localCheckpoint called at ${found.mkString(", ")}")
  }

  test("under src/main, only Caches.scala and its Spark bridge spell a storage level or the Spark cache API") {
    // graft's own entries take the frame as their argument
    // (Caches.persist(df), scope.persist(df), Caches.release(df)); the
    // Spark API's take no argument or a storage level
    val rules = Seq(
      "storage level" -> """\bStorageLevel\b""",
      "persist() or cache()" -> """\.(?:persist|cache)\(\s*\)""",
      "unpersist" -> """\.unpersist\b""")
    rules.foreach { case (what, pattern) =>
      val found = hits(mainFiles, pattern)
      assert(found.forall(inCaches),
        s"$what outside Caches (cache through Caches.persist or Caches.scoped): ${found.mkString(", ")}")
    }
    assert(hits(mainFiles.filter(_.getName == "Caches.scala"), rules.head._2).nonEmpty,
      "Caches must still name the storage level")
  }
}
