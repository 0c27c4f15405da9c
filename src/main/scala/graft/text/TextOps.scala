package graft.text

import java.util.regex.Pattern

/** Text primitives shared by the summarizer, the structure analyzer and
  * the extraction pipeline. Each mirrors one reference behavior, cited
  * inline; all are pure and allocation-light so they run both inside
  * kernels and on the driver for fixture construction.
  */
object TextOps {

  /** `re.split(r'(?<=[.!?])\s+', text)` (`app.py:444`, `app2.py:682`).
    * Java and Python lookbehind semantics agree here; this split can
    * produce at most a trailing empty element in Python (the lookbehind
    * needs a preceding char and `\s+` is greedy), which Python filters
    * right after — limit-0 `split` drops it already, so indices of kept
    * sentences line up exactly.
    *
    * Raw split — keeps un-stripped sentences and their original indices
    * (structure analysis numbers sentence ids over the raw list,
    * `app.py:903-909`).
    *
    * Char-scan twin of `Pattern("(?<=[.!?])\\s+").split(text)` (round-6; the regex
    * matcher held ~2% of flagship task samples through the
    * summarizer). Exact on every input: the lookbehind class [.!?]
    * and Java default-mode `\s` are all ASCII chars, which no
    * surrogate or other non-ASCII char can match, so a separator is
    * precisely a maximal ws run whose preceding char is sentence
    * punctuation — the run is consumed, the punctuation stays with
    * the left piece, and trailing empty pieces drop exactly as
    * limit-0 `split` drops them (law-checked in GraftProps).
    */
  def splitSentencesRaw(text: String): Array[String] = {
    val n = text.length
    @inline def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    @inline def isPunct(c: Char): Boolean = c == '.' || c == '!' || c == '?'
    val pieces = new scala.collection.mutable.ArrayBuffer[String]()
    var start = 0
    var i = 1
    while (i < n) {
      if (isWs(text.charAt(i)) && isPunct(text.charAt(i - 1))) {
        pieces += text.substring(start, i)
        i += 1
        while (i < n && isWs(text.charAt(i))) i += 1
        start = i
        i += 1 // the char at `start` was just checked not-ws (or is past end)
      } else i += 1
    }
    // no match -> the input itself, verbatim (JDK split returns [""]
    // for empty input; trailing empties are dropped only after a match)
    if (pieces.isEmpty) return Array(text)
    pieces += text.substring(start, n)
    // limit-0 split drops trailing empties
    var last = pieces.length
    while (last > 0 && pieces(last - 1).isEmpty) last -= 1
    pieces.take(last).toArray
  }

  /** `split_into_sentences` (`app.py:441-445`): strip + drop empties. */
  def splitSentences(text: String): Vector[String] =
    splitSentencesRaw(text).iterator.map(_.trim).filter(_.nonEmpty).toVector

  /** `re.findall(r'\w+', s.lower())` (`app.py:453,464`). Unicode word
    * chars to match Python 3 `\w`; the corpora here are ASCII, where
    * the two definitions coincide.
    */
  private val wordPat = Pattern.compile("\\w+", Pattern.UNICODE_CHARACTER_CLASS)

  @inline private def asciiWord(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  def tokenize(s: String): Vector[String] = {
    // ASCII fast path (round-6; the regex matcher showed up at ~2% of
    // flagship task samples through the summarizer): on a pure-ASCII
    // string, UNICODE_CHARACTER_CLASS \w is exactly [a-zA-Z0-9_]
    // (documented Java semantics), so a hand scan over the lowercased
    // chars produces the identical token list (law-checked against
    // the regex in GraftProps). Any char >= 0x80 falls back to the
    // regex path untouched.
    val lower = s.toLowerCase
    var ascii = true
    var i = 0
    val n = lower.length
    while (ascii && i < n) { if (lower.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (!ascii) {
      val m = wordPat.matcher(lower)
      val out = Vector.newBuilder[String]
      while (m.find()) out += m.group()
      out.result()
    } else {
      val out = Vector.newBuilder[String]
      i = 0
      while (i < n) {
        if (asciiWord(lower.charAt(i))) {
          val start = i
          while (i < n && asciiWord(lower.charAt(i))) i += 1
          out += lower.substring(start, i)
        } else i += 1
      }
      out.result()
    }
  }

  /** Whitespace collapse + trim — the normalization stage applied to
    * text spans (north_star "whitespace collapse"); media span text is
    * engine output and passes through untouched.
    */
  def cleanup(text: String): String =
    if (text == null) "" else text.replaceAll("\\s+", " ").trim

  /** Direct-text confidence rule (`app.py:640-642`: embedded text with
    * stripped length > 50 chars -> 90.0; shorter text survives only via
    * the PyPDF2-only fallback at confidence 70.0, `app.py:800-810`).
    */
  def directTextConfidence(text: String): Double =
    if (text != null && text.trim.length > 50) 90.0 else 70.0
}

/** The hard-coded stopword set of the reference's summarizer fallback
  * (`app.py:381-399`; v2 uses only this set, `app2.py:627-645`) —
  * behavioral data, English + Indonesian. The NLTK path is
  * environment-dependent and explicitly not reproduced (SURVEY.md T3).
  */
object Stopwords {
  val set: Set[String] = Set(
    "a", "about", "above", "after", "again", "against", "all", "am", "an", "and",
    "any", "are", "as", "at", "be", "because", "been", "before", "being", "below",
    "between", "both", "but", "by", "could", "did", "do", "does", "doing", "down",
    "during", "each", "few", "for", "from", "further", "had", "has", "have", "having",
    "he", "he'd", "he'll", "he's", "her", "here", "here's", "hers", "herself", "him",
    "himself", "his", "how", "how's", "i", "i'd", "i'll", "i'm", "i've", "if", "in",
    "into", "is", "it", "it's", "its", "itself", "let's", "me", "more", "most", "my",
    "myself", "nor", "of", "on", "once", "only", "or", "other", "ought", "our", "ours",
    "ourselves", "out", "over", "own", "same", "she", "she'd", "she'll", "she's",
    "should", "so", "some", "such", "than", "that", "that's", "the", "their", "theirs",
    "them", "themselves", "then", "there", "there's", "these", "they", "they'd",
    "they'll", "they're", "they've", "this", "those", "through", "to", "too", "under",
    "until", "up", "very", "was", "we", "we'd", "we'll", "we're", "we've", "were",
    "what", "what's", "when", "when's", "where", "where's", "which", "while", "who",
    "who's", "whom", "why", "why's", "with", "would", "you", "you'd", "you'll",
    "you're", "you've", "your", "yours", "yourself", "yourselves",
    // Indonesian
    "yang", "dan", "di", "ini", "itu", "dari", "dalam", "tidak", "dengan", "akan",
    "pada", "juga", "saya", "ke", "bisa", "untuk", "adalah")
}

/** Extractive summarizer — exact semantics of `Summarizer.summarize` /
  * `score_sentences` (`app.py:401-482`; v2 adds `max_sentences`,
  * `app2.py:646-721`):
  *
  *  - guards: empty / stripped length < 100 -> identity; <= 3 sentences
  *    -> identity;
  *  - k = max(1, int(n * ratio)) or min(max_sentences, n);
  *  - word freq over non-stopword tokens of all sentences, max-normalized;
  *  - sentence score = (sum of normalized freq of its non-stopword
  *    tokens) / token count (stopword tokens count in the denominator
  *    but score 0 — they are absent from the freq map);
  *  - position bonus x1.25 when i < 0.2n or i > 0.8n;
  *  - stable top-k by score desc (ties keep the earlier sentence —
  *    Python `sorted` stability), re-sorted by position, joined by " ".
  */
object Summarizer {

  def scoreSentences(sentences: IndexedSeq[String]): Array[Double] = {
    // tokenize each sentence ONCE (round-6): the freq pass and the
    // scoring pass consume the same pure tokenization — the old form
    // ran the regex matcher twice per sentence for identical output
    val toks: IndexedSeq[Vector[String]] = sentences.map(TextOps.tokenize)
    val freq = scala.collection.mutable.HashMap.empty[String, Int]
    toks.foreach { ws =>
      ws.foreach { w =>
        if (!Stopwords.set.contains(w)) freq.update(w, freq.getOrElse(w, 0) + 1)
      }
    }
    val maxFreq = if (freq.nonEmpty) freq.values.max.toDouble else 1.0
    val n = sentences.length
    Array.tabulate(n) { i =>
      val words = toks(i)
      var score = 0.0
      words.foreach { w => freq.get(w).foreach(f => score += f / maxFreq) }
      if (words.nonEmpty) score /= words.length
      if (i < n * 0.2 || i > n * 0.8) score *= 1.25
      score
    }
  }

  def summarize(text: String, ratio: Double = 0.3, maxSentences: Option[Int] = None): String = {
    if (text == null || text.trim.length < 100) return if (text == null) "" else text
    val sentences = TextOps.splitSentences(text)
    val n = sentences.length
    if (n <= 3) return text
    val k = maxSentences match {
      case Some(m) if m > 0 => math.min(m, n)
      case _ => math.max(1, (n * ratio).toInt)
    }
    val scores = scoreSentences(sentences)
    // stable sort by score desc == sort by (-score, index) since indices unique
    val ranked = (0 until n).sortBy(i => (-scores(i), i)).take(k).sorted
    ranked.map(sentences).mkString(" ")
  }

  def compressionRatio(original: String, summary: String): Double =
    if (original == null || original.isEmpty) 0.0
    else summary.length.toDouble / original.length
}
