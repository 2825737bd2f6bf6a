package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.UnicodeFold

/** Semantics of the native unicode_fold expression beyond the oracle gate. */
class UnicodeFoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def foldStr(s: String): String =
    UnicodeFold.fold(UTF8String.fromString(s)).toString

  test("strips accents and combining marks, keeps base letters and case") {
    assert(foldStr("résumé") == "resume")
    assert(foldStr("Ñandú") == "Nandu")
    assert(foldStr("über-naïve façade") == "uber-naive facade")
    // pre-combined and combining-mark forms fold identically
    assert(foldStr("éclair") == foldStr("éclair"))
  }

  test("canonical decomposition only: ligatures, full-width, ª, ² and NBSP are kept") {
    // DuckDB's strip_accents decomposes canonically (NFD), not by
    // compatibility (NFKD), so compatibility forms survive the fold
    assert(foldStr("ﬁle") == "ﬁle")
    assert(foldStr("ａｂｃ") == "ａｂｃ")
    assert(foldStr("\u00aa") == "\u00aa") // ª
    assert(foldStr("\u00b2") == "\u00b2") // ²
    assert(foldStr("a\u00a0b") == "a\u00a0b") // NBSP
  }

  test("U+0080..U+02FF fold exactly as DuckDB strip_accents") {
    // every code point in the range that strip_accents changes, with its
    // fold (DuckDB 1.0.0); every other one folds to itself
    val changed = Map(
      0xC0 -> "A", 0xC1 -> "A", 0xC2 -> "A", 0xC3 -> "A", 0xC4 -> "A", 0xC5 -> "A",
      0xC7 -> "C", 0xC8 -> "E", 0xC9 -> "E", 0xCA -> "E", 0xCB -> "E", 0xCC -> "I",
      0xCD -> "I", 0xCE -> "I", 0xCF -> "I", 0xD1 -> "N", 0xD2 -> "O", 0xD3 -> "O",
      0xD4 -> "O", 0xD5 -> "O", 0xD6 -> "O", 0xD9 -> "U", 0xDA -> "U", 0xDB -> "U",
      0xDC -> "U", 0xDD -> "Y", 0xE0 -> "a", 0xE1 -> "a", 0xE2 -> "a", 0xE3 -> "a",
      0xE4 -> "a", 0xE5 -> "a", 0xE7 -> "c", 0xE8 -> "e", 0xE9 -> "e", 0xEA -> "e",
      0xEB -> "e", 0xEC -> "i", 0xED -> "i", 0xEE -> "i", 0xEF -> "i", 0xF1 -> "n",
      0xF2 -> "o", 0xF3 -> "o", 0xF4 -> "o", 0xF5 -> "o", 0xF6 -> "o", 0xF9 -> "u",
      0xFA -> "u", 0xFB -> "u", 0xFC -> "u", 0xFD -> "y", 0xFF -> "y", 0x100 -> "A",
      0x101 -> "a", 0x102 -> "A", 0x103 -> "a", 0x104 -> "A", 0x105 -> "a", 0x106 -> "C",
      0x107 -> "c", 0x108 -> "C", 0x109 -> "c", 0x10A -> "C", 0x10B -> "c", 0x10C -> "C",
      0x10D -> "c", 0x10E -> "D", 0x10F -> "d", 0x112 -> "E", 0x113 -> "e", 0x114 -> "E",
      0x115 -> "e", 0x116 -> "E", 0x117 -> "e", 0x118 -> "E", 0x119 -> "e", 0x11A -> "E",
      0x11B -> "e", 0x11C -> "G", 0x11D -> "g", 0x11E -> "G", 0x11F -> "g", 0x120 -> "G",
      0x121 -> "g", 0x122 -> "G", 0x123 -> "g", 0x124 -> "H", 0x125 -> "h", 0x128 -> "I",
      0x129 -> "i", 0x12A -> "I", 0x12B -> "i", 0x12C -> "I", 0x12D -> "i", 0x12E -> "I",
      0x12F -> "i", 0x130 -> "I", 0x134 -> "J", 0x135 -> "j", 0x136 -> "K", 0x137 -> "k",
      0x139 -> "L", 0x13A -> "l", 0x13B -> "L", 0x13C -> "l", 0x13D -> "L", 0x13E -> "l",
      0x143 -> "N", 0x144 -> "n", 0x145 -> "N", 0x146 -> "n", 0x147 -> "N", 0x148 -> "n",
      0x14C -> "O", 0x14D -> "o", 0x14E -> "O", 0x14F -> "o", 0x150 -> "O", 0x151 -> "o",
      0x154 -> "R", 0x155 -> "r", 0x156 -> "R", 0x157 -> "r", 0x158 -> "R", 0x159 -> "r",
      0x15A -> "S", 0x15B -> "s", 0x15C -> "S", 0x15D -> "s", 0x15E -> "S", 0x15F -> "s",
      0x160 -> "S", 0x161 -> "s", 0x162 -> "T", 0x163 -> "t", 0x164 -> "T", 0x165 -> "t",
      0x168 -> "U", 0x169 -> "u", 0x16A -> "U", 0x16B -> "u", 0x16C -> "U", 0x16D -> "u",
      0x16E -> "U", 0x16F -> "u", 0x170 -> "U", 0x171 -> "u", 0x172 -> "U", 0x173 -> "u",
      0x174 -> "W", 0x175 -> "w", 0x176 -> "Y", 0x177 -> "y", 0x178 -> "Y", 0x179 -> "Z",
      0x17A -> "z", 0x17B -> "Z", 0x17C -> "z", 0x17D -> "Z", 0x17E -> "z", 0x1A0 -> "O",
      0x1A1 -> "o", 0x1AF -> "U", 0x1B0 -> "u", 0x1CD -> "A", 0x1CE -> "a", 0x1CF -> "I",
      0x1D0 -> "i", 0x1D1 -> "O", 0x1D2 -> "o", 0x1D3 -> "U", 0x1D4 -> "u", 0x1D5 -> "U",
      0x1D6 -> "u", 0x1D7 -> "U", 0x1D8 -> "u", 0x1D9 -> "U", 0x1DA -> "u", 0x1DB -> "U",
      0x1DC -> "u", 0x1DE -> "A", 0x1DF -> "a", 0x1E0 -> "A", 0x1E1 -> "a", 0x1E2 -> "\u00c6",
      0x1E3 -> "\u00e6", 0x1E6 -> "G", 0x1E7 -> "g", 0x1E8 -> "K", 0x1E9 -> "k", 0x1EA -> "O",
      0x1EB -> "o", 0x1EC -> "O", 0x1ED -> "o", 0x1EE -> "\u01b7", 0x1EF -> "\u0292",
      0x1F0 -> "j", 0x1F4 -> "G", 0x1F5 -> "g", 0x1F8 -> "N", 0x1F9 -> "n", 0x1FA -> "A",
      0x1FB -> "a", 0x1FC -> "\u00c6", 0x1FD -> "\u00e6", 0x1FE -> "\u00d8", 0x1FF -> "\u00f8",
      0x200 -> "A", 0x201 -> "a", 0x202 -> "A", 0x203 -> "a", 0x204 -> "E", 0x205 -> "e",
      0x206 -> "E", 0x207 -> "e", 0x208 -> "I", 0x209 -> "i", 0x20A -> "I", 0x20B -> "i",
      0x20C -> "O", 0x20D -> "o", 0x20E -> "O", 0x20F -> "o", 0x210 -> "R", 0x211 -> "r",
      0x212 -> "R", 0x213 -> "r", 0x214 -> "U", 0x215 -> "u", 0x216 -> "U", 0x217 -> "u",
      0x218 -> "S", 0x219 -> "s", 0x21A -> "T", 0x21B -> "t", 0x21E -> "H", 0x21F -> "h",
      0x226 -> "A", 0x227 -> "a", 0x228 -> "E", 0x229 -> "e", 0x22A -> "O", 0x22B -> "o",
      0x22C -> "O", 0x22D -> "o", 0x22E -> "O", 0x22F -> "o", 0x230 -> "O", 0x231 -> "o",
      0x232 -> "Y", 0x233 -> "y"
    )
    val wrong = (0x80 until 0x300).flatMap { cp =>
      val in = new String(Character.toChars(cp))
      val want = changed.getOrElse(cp, in)
      val got = foldStr(in)
      if (got == want) None else Some(f"U+$cp%04X: got '$got', want '$want'")
    }
    assert(changed.size == 252)
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("ASCII fast path returns the input buffer unchanged") {
    val in = UTF8String.fromString("plain ascii text 123")
    assert(UnicodeFold.fold(in) eq in, "no allocation on the ASCII path")
  }

  test("interpreted eval, codegen, and SQL registration agree") {
    import spark.implicits._
    val rows = Seq("résumé", "Ñandú 42", "plain", "ﬁne über").toDF("s")
      .select(expr("unicode_fold(s)").as("f")).as[String].collect().toSeq
    assert(rows == Seq("resume", "Nandu 42", "plain", "ﬁne uber")) // NFD keeps the ligature
    // null propagates
    val n = Seq[Option[String]](None).toDF("s")
      .select(expr("unicode_fold(s)")).collect()(0)
    assert(n.isNullAt(0))
  }

  test("the expression stays inside whole-stage codegen") {
    // a local relation constant-folds at the driver (LocalTableScan), so
    // drive the expression over a real file scan to see the codegen span
    val df = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(expr("unicode_fold(text)").as("f"))
    val p = df.queryExecution.executedPlan.toString
    // the `*(N)` prefix is the WholeStageCodegen marker in the tree string
    assert("\\*\\(\\d+\\) Project \\[unicode_fold".r.findFirstIn(p).isDefined,
      s"unicode_fold must not break the codegen span (no *(N) on its Project):\n$p")
    assert(df.where(col("f").isNotNull).count() > 0)
  }
}
