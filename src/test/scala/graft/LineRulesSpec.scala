package graft

import graft.ops.LineRules
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class LineRulesSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-linerules")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def run(rows: Seq[(Long, Int, String)]) = {
    import spark.implicits._
    LineRules.c4LineFilter(rows.toDF("doc_id", "idx", "line"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(4))))
      .toMap
  }

  test("each line rule kills exactly its target; page needs >= 3 kept lines") {
    spark.sparkContext.setLogLevel("WARN")
    val good = "one two three four five six."
    val rows = Seq(
      // doc 1: four good lines -> kept page; kept_text in idx order
      (1L, 0, good), (1L, 1, "does it have enough words here?"),
      (1L, 2, "yes this line also clearly survives!"),
      (1L, 3, "the last good line ends with a quote\""),
      (1L, 4, "no terminal punctuation so this one drops"),
      // doc 2: each line fails one rule -> 0 kept, page dropped
      (2L, 0, "too few words."),                       // < 5 words
      (2L, 1, "this line mentions JavaScript so it must go."), // javascript
      (2L, 2, "curly brace { appears in this line."),  // brace
      (2L, 3, "one two three four five six"),          // no terminal punct
      // doc 3: exactly 3 kept -> boundary keep
      (3L, 0, good), (3L, 1, good), (3L, 2, good))
    val got = run(rows)
    assert(got(1L) == ((5L, 4L,
      Seq(good, "does it have enough words here?",
        "yes this line also clearly survives!",
        "the last good line ends with a quote\"").mkString("\n"), true)))
    assert(got(2L) == ((4L, 0L, "", false)))
    assert(got(3L) == ((3L, 3L, Seq(good, good, good).mkString("\n"), true)))
  }

  test("lorem ipsum is a PAGE rule: the line itself can pass but the page drops") {
    val good = "one two three four five six."
    val lorem = "lorem ipsum dolor sit amet consectetur."
    val rows = Seq(
      (1L, 0, good), (1L, 1, good), (1L, 2, good), (1L, 3, lorem))
    val got = run(rows)
    // the lorem line passes all four LINE rules (counted in n_kept and
    // kept_text) yet forces doc_kept = false
    assert(got(1L) == ((4L, 4L,
      Seq(good, good, good, lorem).mkString("\n"), false)))
  }

  test("CR/LF-terminated lines do NOT satisfy the terminal-punct rule (RE2-$ parity)") {
    // Java's $ matches before a trailing line terminator, so rlike with
    // $ kept "....\r" while the RE2 oracle dropped it; the rule now
    // anchors with \z (end of text), matching the oracle — regression
    val good = "one two three four five six."
    val rows = Seq(
      (1L, 0, good), (1L, 1, good), (1L, 2, good),
      (1L, 3, good + "\r"), (1L, 4, good + "\n"))
    val got = run(rows)
    assert(got(1L) == ((5L, 3L, Seq(good, good, good).mkString("\n"), true)))
  }

  test("minWords/minKept are parameters; out-of-order input assembles in idx order") {
    import spark.implicits._
    val rows = Seq((1L, 2, "c c."), (1L, 0, "a a."), (1L, 1, "b b."))
    val got = LineRules.c4LineFilter(
        rows.toDF("doc_id", "idx", "line"), minWords = 2)
      .collect().map(r => (r.getLong(2), r.getString(3), r.getBoolean(4)))
    assert(got.toSeq == Seq((3L, "a a.\nb b.\nc c.", true)))
  }
}
