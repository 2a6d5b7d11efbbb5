package graft

import org.scalatest.funsuite.AnyFunSuite

/** The exactness-ledger tripwire (r16 verdict #5): every `avg(` in main
  * source must be classified — exact means go through ExactMean (whose
  * file is the ledger and needs no marker), float means carry a same-line
  * `// float-mean: <class>` marker tying them to a ledger class
  * (precedent / intermediate). Oracle-SQL renderings
  * (stripMargin lines starting with `|`) mirror the engine side and are
  * certified by the oracle gate itself, so they are exempt. A new
  * unmarked float-mean site fails here BY NAME, PlanAuditSpec-style. */
class ExactnessLedgerSpec extends AnyFunSuite {

  private val classes = Set("precedent", "intermediate")

  test("every avg( site in main is ledger-classified or in ExactMean") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(root).toArray.map(_.toString)
      .filter(_.endsWith(".scala")).filterNot(_.endsWith("ExactMean.scala"))
    val avgRe = "(^|[^a-zA-Z0-9_.])avg\\(".r
    val offenders = files.flatMap { f =>
      // ISO-8859-1: a lossless byte->char view (one source file carries a
      // non-UTF8 literal; the patterns swept here are pure ASCII)
      scala.io.Source.fromFile(f)("ISO-8859-1").getLines().zipWithIndex.flatMap {
        case (line, i) =>
          val t = line.trim
          val isOracleSql = t.startsWith("|") || t.startsWith("\"") ||
            t.startsWith("s\"")
          val marked = "// float-mean: (\\w+)".r.findFirstMatchIn(line)
          if (avgRe.findFirstIn(line).isEmpty || isOracleSql) None
          else if (marked.exists(m => classes(m.group(1)))) None
          else Some(s"$f:${i + 1}: $t")
      }.toList
    }
    assert(offenders.isEmpty,
      "unclassified float-mean sites (add `// float-mean: " +
        "precedent|intermediate` per the ExactMean ledger, or " +
        s"use ExactMean):\n${offenders.mkString("\n")}")
  }

  test("every float-mean marker uses a ledger class") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(root).toArray.map(_.toString)
      .filter(_.endsWith(".scala"))
      .filterNot(_.endsWith("ExactMean.scala")) // the ledger doc QUOTES the markers
    val bad = files.flatMap { f =>
      scala.io.Source.fromFile(f)("ISO-8859-1").getLines().zipWithIndex.collect {
        case (line, i) if "// float-mean: (\\S+)".r.findFirstMatchIn(line)
          .exists(m => !classes(m.group(1))) => s"$f:${i + 1}"
      }.toList
    }
    assert(bad.isEmpty, s"unknown float-mean class at: ${bad.mkString(", ")}")
  }
}
