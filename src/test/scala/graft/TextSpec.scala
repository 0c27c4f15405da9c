package graft

import graft.nav.Nav
import graft.text.{Stopwords, Summarizer, TextOps}
import graft.util.Det
import org.scalatest.funsuite.AnyFunSuite

class TextSpec extends AnyFunSuite {

  test("sentence split mirrors re.split(r'(?<=[.!?])\\s+') (app.py:444)") {
    assert(TextOps.splitSentences("One. Two! Three? Four") ==
      Vector("One.", "Two!", "Three?", "Four"))
    assert(TextOps.splitSentences("Mr. X went.  Then left.") ==
      Vector("Mr.", "X went.", "Then left."))
    assert(TextOps.splitSentences("No punctuation here") == Vector("No punctuation here"))
    assert(TextOps.splitSentences("Trailing. ") == Vector("Trailing."))
    assert(TextOps.splitSentences("a.b is not split") == Vector("a.b is not split"))
    assert(TextOps.splitSentences("") == Vector.empty)
  }

  test("tokenize mirrors re.findall(r'\\w+', s.lower()) (app.py:453)") {
    assert(TextOps.tokenize("Hello, World! it's 42") ==
      Vector("hello", "world", "it", "s", "42"))
    assert(TextOps.tokenize("under_score keeps") == Vector("under_score", "keeps"))
    assert(TextOps.tokenize("") == Vector.empty)
  }

  test("stopword set has the reference's EN+ID fallback words (app.py:381-399)") {
    assert(Stopwords.set.contains("the"))
    assert(Stopwords.set.contains("yang")) // Indonesian
    assert(Stopwords.set.contains("let's"))
    assert(!Stopwords.set.contains("spark"))
    assert(Stopwords.set.size == 170) // verified equal to the reference set
  }

  test("cleanup collapses whitespace") {
    assert(TextOps.cleanup("  a\t b\n\nc  ") == "a b c")
    assert(TextOps.cleanup(null) == "")
  }

  test("direct-text confidence: >50 stripped chars -> 90, else 70 (app.py:640,810)") {
    assert(TextOps.directTextConfidence("x" * 51) == 90.0)
    assert(TextOps.directTextConfidence(" " + "x" * 50 + " ") == 70.0)
    assert(TextOps.directTextConfidence("short") == 70.0)
  }

  test("summarizer guards: <100 chars or <=3 sentences -> identity (app.py:412,420)") {
    val short = "Tiny text."
    assert(Summarizer.summarize(short) == short)
    val t3 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda. second sentence here today. third sentence closes it."
    assert(t3.length >= 100 && TextOps.splitSentences(t3).length == 3)
    assert(Summarizer.summarize(t3) == t3)
  }

  test("summarizer k = max(1, int(n*ratio)); selection stable; output in original order") {
    // 10 sentences, distinct vocabularies; make sentence 5 heavy by repeating
    // its words across the text so it scores top.
    val hot = "database engine speed"
    val sents = (0 until 10).map {
      case 5 => s"$hot $hot $hot."
      case i => s"unique$i word$i extra$i filler$i."
    }
    val text = sents.mkString(" ")
    val sum = Summarizer.summarize(text, 0.3) // k = 3
    val outSents = TextOps.splitSentences(sum)
    assert(outSents.length == 3)
    assert(sum.contains("database engine speed"))
    // original order preserved: indices of chosen sentences ascending
    val idx = outSents.map(s => sents.indexWhere(_ == s))
    assert(idx == idx.sorted)
  }

  test("summarizer position bonus x1.25 for i < 0.2n or i > 0.8n (app.py:477-478)") {
    val n = 10
    val sents = (0 until n).map(i => s"common word$i.")
    val scores = Summarizer.scoreSentences(sents)
    // all sentences share 'common' (freq n -> normalized 1) + unique word
    // (freq 1 -> 1/n), same token count -> same base; edges get *1.25
    assert(scores(0) > scores(5))
    assert(scores(9) > scores(5))
    assert(math.abs(scores(0) - scores(5) * 1.25) < 1e-12)
    // i < 2.0 -> indices 0,1 boosted; i > 8.0 -> index 9 boosted
    assert(math.abs(scores(1) - scores(0)) < 1e-12)
    assert(math.abs(scores(2) - scores(5)) < 1e-12)
  }

  test("summarizer tie-break keeps the earlier sentence (python sorted stability)") {
    // all sentences identical score; k=1 must take sentence 0
    val sents = (0 until 8).map(_ => "same same same.").toVector
    val sum = Summarizer.summarize(sents.mkString(" "), 0.125) // n=8, k=1
    // positions 0 and 7 share the x1.25 bonus; tie -> earlier (0)
    assert(sum == "same same same.")
  }

  test("nav clamps (app.py:1500-1505) + property: result always in [0, total-1]") {
    assert(Nav.nextI(0, 5) == 1)
    assert(Nav.nextI(4, 5) == 4)
    assert(Nav.previousI(0) == 0)
    assert(Nav.previousI(3) == 2)
    assert(Nav.gotoI(-7, 5) == 0)
    assert(Nav.gotoI(99, 5) == 4)
    for (i <- 0 until 200) {
      val total = 1 + Det.bounded(Det.at(7L, i), 20)
      val cur = Det.bounded(Det.at(8L, i), total)
      val pos = Det.bounded(Det.at(9L, i), 60) - 30
      for (v <- Seq(Nav.nextI(cur, total), Nav.previousI(cur), Nav.gotoI(pos, total))) {
        assert(v >= 0 && v <= total - 1)
      }
      assert(Nav.gotoI(Nav.nextI(cur, total), total) >= cur ||
        Nav.nextI(cur, total) == total - 1)
    }
  }
}
