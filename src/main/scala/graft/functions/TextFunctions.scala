package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text building blocks.
  *
  * Everything here is a composition of `org.apache.spark.sql.functions`
  * (whole-stage codegen'd, no UDFs) and has an exact DuckDB-SQL mirror so
  * operators built on top stay oracle-checkable. Semantics follow the
  * reference's feature extractors (reference: features/text_stats.py,
  * features/bullets.py, features/dividers.py, 2-label.py).
  */
object TextFunctions {

  /** Whitespace tokens with empties dropped (mirror:
    * list_filter(regexp_split_to_array(t,'\s+'), x -> x != '')) — native
    * one-pass expression; the HOF form runs an interpreted lambda per
    * token and this column underlies most annotation operators. */
  def tokens(c: Column): Column = NativeExpressions.wordTokens(c)

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: word chunks of <=4 chars + punctuation marks,
    * approximating a byte-pair tokenizer's piece count (native char walk;
    * mirror: regexp_count over "[A-Za-z0-9]{1,4}|[^A-Za-z0-9\s]"). */
  def bpeTokenCount(c: Column): Column = NativeExpressions.bpeCount(c)

  /** Count occurrences of one literal character. */
  def charCount(c: Column, ch: String): Column =
    length(c) - length(regexp_replace(c, java.util.regex.Pattern.quote(ch), ""))

  /** Newline count (reference: features/text_stats.py:analyze_line_breaks). */
  def lineBreakCount(c: Column): Column = charCount(c, "\n")

  /** Pictographic code-point ranges, re-expressed from the public UTS #51
    * emoji-data tables (Extended_Pictographic restricted to assigned
    * blocks) — the embedded-public-table pattern the synonym and PII
    * tables use: ONE source generating the Spark pattern, the DuckDB
    * mirror, and tools/ref_parity.py's `emojis`-package stand-in.
    * Deliberately excludes what the round-2 block-class over-counted:
    * plain arrows (U+2190-U+21FF beyond the UTS #51 subset), non-emoji
    * symbol blocks, and the bare variation selector U+FE0F (which
    * double-counted every "❤️"-style sequence). */
  val PictographicRanges: Seq[(Int, Int)] = Seq(
    (0x00A9, 0x00A9), (0x00AE, 0x00AE), // © ®
    (0x203C, 0x203C), (0x2049, 0x2049), // ‼ ⁉
    (0x2122, 0x2122), (0x2139, 0x2139), // ™ ℹ
    (0x2194, 0x2199), (0x21A9, 0x21AA), // arrows with emoji presentation
    (0x231A, 0x231B), (0x2328, 0x2328), (0x23CF, 0x23CF),
    (0x23E9, 0x23F3), (0x23F8, 0x23FA), // clocks / AV controls
    (0x24C2, 0x24C2),
    (0x25AA, 0x25AB), (0x25B6, 0x25B6), (0x25C0, 0x25C0),
    (0x25FB, 0x25FE),                   // geometric shapes subset
    (0x2600, 0x27BF),                   // Misc Symbols + Dingbats
    (0x2934, 0x2935),
    (0x2B05, 0x2B07), (0x2B1B, 0x2B1C), (0x2B50, 0x2B50), (0x2B55, 0x2B55),
    (0x3030, 0x3030), (0x303D, 0x303D), (0x3297, 0x3297), (0x3299, 0x3299),
    (0x1F000, 0x1FAFF))                 // supplementary emoji blocks

  private def hexEsc(cp: Int): String = f"\\x{$cp%X}"

  /** The pictographic char class built from [[PictographicRanges]]. */
  val PictClass: String = PictographicRanges.map { case (a, b) =>
    if (a == b) hexEsc(a) else s"${hexEsc(a)}-${hexEsc(b)}"
  }.mkString("[", "", "]")

  /** UTS #51 emoji-SEQUENCE pattern: one match per displayed emoji —
    * keycap sequences (#️⃣), flags (regional-indicator pairs), and
    * pictographic ZWJ chains with optional VS16 / skin-tone modifiers
    * (so "❤️" and "👍🏽" and "👨‍👩‍👧" each count ONCE). Alternation,
    * classes, and bounded quantifiers only — the Java-regex ∩ RE2
    * subset every embedded pattern keeps so the DuckDB mirror sees the
    * same language. Kept under the historical name: every consumer and
    * oracle interpolates `EmojiClass`. */
  val EmojiClass: String =
    "[#*0-9]\\x{FE0F}?\\x{20E3}" +
      "|[\\x{1F1E6}-\\x{1F1FF}]{2}" +
      s"|$PictClass(?:\\x{FE0F}|[\\x{1F3FB}-\\x{1F3FF}])?" +
      s"(?:\\x{200D}$PictClass(?:\\x{FE0F}|[\\x{1F3FB}-\\x{1F3FF}])?)*"

  /** Emoji sequence count (reference: 2-label.py emoji_frequency_analysis
    * via the `emojis` package's database; this is the UTS #51
    * re-expression of that database's matching). Native kernel — the
    * regexp_count([[EmojiClass]]) form it equals (EmojiKernelSpec) costs
    * 6× wall on emoji-consuming queries under Java's backtracking
    * engine; the oracle keeps the regex (RE2 compiles it to a DFA). */
  def emojiCount(c: Column): Column = NativeExpressions.emojiCount(c)

  /** Emoji frequency = emoji / chars (0 for empty text). */
  def emojiFrequency(c: Column): Column =
    emojiFrequencyOf(emojiCount(c), length(c))

  /** [[emojiFrequency]] from a PRE-COMPUTED emoji count — the staged
    * form hot paths use: `cnt` should be a materialized attribute, so
    * the emoji kernel runs once per row however many times the
    * frequency/usage chain references it. (Codegen subexpression
    * elimination does not reach into later `when` branches, so the
    * unstaged forms evaluate the kernel once per reference — the
    * p02_label 8×-kernel plan.) Division arithmetic identical to the
    * original emojiCount(c)/length(c) form. */
  def emojiFrequencyOf(cnt: Column, len: Column): Column =
    when(len > 0, cnt.cast("double") / len).otherwise(lit(0.0))

  /** Usage bins from the reference's default thresholds (2-label.py
    * load_emoji_bins): none/very low/low/medium/high/extreme. */
  def emojiUsage(c: Column): Column =
    emojiUsageOf(emojiCount(c), length(c))

  /** [[emojiUsage]] from a pre-computed emoji count (staged form). */
  def emojiUsageOf(cnt: Column, len: Column): Column = {
    val f = emojiFrequencyOf(cnt, len)
    when(f <= 0.0, "none")
      .when(f <= 0.0005, "very low")
      .when(f <= 0.001, "low")
      .when(f <= 0.005, "medium")
      .when(f <= 0.01, "high")
      .otherwise("extreme")
  }

  /** Length buckets (reference: 2-label.py post_length_analysis). */
  def lengthBucket(c: Column): Column =
    when(length(c) >= 1501, "Between 1,500 and 3,000 characters long")
      .when(length(c) >= 750, "Between 750 and 1,500 characters long")
      .otherwise("Up to 750 characters long")

  def hashtagCount(c: Column): Column = regexp_count(c, lit("#\\w+"))

  def urlCount(c: Column): Column = regexp_count(c, lit("https?://\\S+"))

  /** CJK character presence (reference: 7-clean-topics.py
    * contains_disallowed's 一-鿿 check). */
  def hasCjk(c: Column): Column = c.rlike("[\\x{4e00}-\\x{9fff}]")

  /** Disallowed annotation content (reference: 7-clean-topics.py). */
  def isDisallowedAnnotation(c: Column): Column =
    c.contains("...") || c.contains("?") || c.contains("_") ||
      c.contains("{") || c.contains("}") || c.contains("[") || c.contains("]") ||
      c.contains("<") || c.contains(">") || hasCjk(c) ||
      lower(trim(c)) === "unknown"

  /** Sentence count: runs terminated by . ! ? or end-of-text (native
    * one-pass expression). */
  def sentenceCount(c: Column): Column = NativeExpressions.sentenceCount(c)

  /** Normalized fingerprint: lowercase, strip non-alnum, collapse spaces →
    * md5. Whole-document exact-dup key robust to case/punct jitter
    * (native fused expression — same lower/regex/md5 chain, one pass). */
  def fingerprint(c: Column): Column = NativeExpressions.fingerprint(c)

  /** Stable bucket in [0, n) from md5 — identical arithmetic in DuckDB:
    * (ascii(h1)*256 + ascii(h2)) % n over the first two hex chars. */
  def hashBucket(c: Column, n: Int): Column = {
    val h = md5(c)
    (ascii(substring(h, 1, 1)) * 256 + ascii(substring(h, 2, 1))) % n
  }

  /** The same bucket as DuckDB SQL, for oracle assembly. */
  def hashBucketSql(expr: String, n: Int): String =
    s"(ascii(substr(md5($expr),1,1))*256 + ascii(substr(md5($expr),2,1))) % $n"

  /** Decimal value of one hex digit (md5 output is lowercase hex). */
  def nibble(c: Column): Column =
    ascii(c) - when(c >= "a", 87).otherwise(48)

  /** First `n` hex chars of `h` as an unsigned long (n <= 15). Identical
    * arithmetic is emitted by [[nibbleSql]]-based SQL for the DuckDB
    * oracle, so hash-derived integers compare exactly across engines. */
  def hexLong(h: Column, n: Int): Column =
    (1 to n).map { j =>
      val c = substring(h, j, 1)
      nibble(c) * lit(1L << (4 * (n - j)))
    }.reduce(_ + _)

  /** DuckDB mirror of [[hexLong]] over SQL expression `h`. */
  def hexLongSql(h: String, n: Int): String =
    (1 to n).map { j =>
      s"(ascii(substr($h,$j,1)) - CASE WHEN substr($h,$j,1) >= 'a' THEN 87 ELSE 48 END) * CAST(${1L << (4 * (n - j))} AS BIGINT)"
    }.mkString("(", " + ", ")")

  /** Distinct word n-gram shingles (falls back to the whole token string
    * for texts shorter than n tokens). */
  def shingles(c: Column, n: Int): Column = {
    val toks = tokens(c)
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array(concat_ws(" ", toks))))
  }

  /** DuckDB mirror of [[shingles]] (expects `toks` bound to the token list). */
  def shinglesSql(toks: String, n: Int): String =
    s"""list_distinct(CASE WHEN len($toks) >= $n
       |  THEN [array_to_string($toks[i:i+${n - 1}], ' ') FOR i IN range(1, len($toks) - ${n - 2})]
       |  ELSE [array_to_string($toks, ' ')] END)""".stripMargin

  /** Count of tokens that are members of `set` (with repeats) — native
    * one-pass expression (the HOF form ran an interpreted lambda plus an
    * array_contains scan per token). */
  def tokenSetCount(c: Column, set: Seq[String]): Column =
    NativeExpressions.tokenSetCount(tokens(c), set)
}
