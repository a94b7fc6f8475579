package graft

import graft.functions.{JaroWinklerSim, NfcClean}
import org.scalatest.funsuite.AnyFunSuite

/** Wave-75 bounds: the Jaro-Winkler expression reproduces the
  * classical worked examples bit-for-bit, respects metric-style
  * invariants, and the query's per-probe cut is exactly the top-20 of
  * a brute-force rescore; NFC cleanup strips every zero-width code
  * point, composes decomposed accents, and is idempotent.
  */
class Round11sSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.01"

  test("jaro-winkler matches the classical worked examples") {
    assert(math.abs(JaroWinklerSim.jw("MARTHA", "MARHTA") -
      0.9611111111111111) < 1e-15)
    assert(math.abs(JaroWinklerSim.jw("DWAYNE", "DUANE") -
      0.8400000000000001) < 1e-15)
    // jaro below the 0.7 threshold: boost must NOT apply
    assert(math.abs(JaroWinklerSim.jw("abcdef", "abwxyz") -
      0.5555555555555555) < 1e-15)
    assert(JaroWinklerSim.jw("abc", "abc") == 1.0)
    assert(JaroWinklerSim.jw("", "abc") == 0.0)
    assert(JaroWinklerSim.jw("", "") == 1.0)
    assert(JaroWinklerSim.jw("xy", "qz") == 0.0)
  }

  test("jaro-winkler invariants on fixture names") {
    val names = Tables(spark, sf, "part")
      .select("p_name").limit(60).collect().map(_.getString(0))
    for (a <- names.take(12); b <- names.take(12)) {
      val s1 = JaroWinklerSim.jw(a, b)
      val s2 = JaroWinklerSim.jw(b, a)
      assert(s1 == s2, s"symmetry: $a / $b")
      assert(s1 >= 0.0 && s1 <= 1.0)
      if (a == b) assert(s1 == 1.0)
    }
  }

  test("scalar_jaro_winkler equals a brute-force rescore top-20") {
    val got = SparkEntry.queries("scalar_jaro_winkler")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val parts = Tables(spark, sf, "part")
      .select("p_partkey", "p_name").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val probes = parts.filter(_._1 <= 5)
    val cands = parts.filter(_._1 > 5)
    probes.foreach { case (pk, pn) =>
      val want = cands
        .map { case (k, n) =>
          (k, BigDecimal(JaroWinklerSim.jw(pn, n))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .sortBy { case (k, s2) => (-s2, k) }
        .take(20)
      val mine = got.filter(_._1 == pk).sortBy(_._2)
      assert(mine.length == 20, s"probe $pk row count")
      mine.zip(want).zipWithIndex.foreach { case (((_, _, k, s2), (wk, ws)), i) =>
        assert(k == wk && math.abs(s2 - ws) < 1e-9,
               s"probe $pk rank ${i + 1}: got ($k, $s2) want ($wk, $ws)")
      }
    }
  }

  test("nfc_clean strips zero-widths, composes, and is idempotent") {
    val dirty = "\uFEFFcafe\u0301 nai\u0308ve\u200B z\u200Cw\u200Dj"
    val clean = NfcClean.clean(dirty)
    assert(!clean.exists(c => c == '\u200B' || c == '\u200C' ||
      c == '\u200D' || c == '\uFEFF'))
    assert(clean.contains("caf\u00E9"), "e + combining acute composes to e-acute")
    assert(clean == NfcClean.clean(clean), "idempotent")
    assert(java.text.Normalizer.isNormalized(
      clean, java.text.Normalizer.Form.NFC))
  }

  test("text_unicode_normalize lengths reconcile with the e-count") {
    val rows = SparkEntry.queries("text_unicode_normalize")(spark, sf)
      .limit(200).collect()
    assert(rows.nonEmpty)
    val texts = Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val (id, norm, lenDirty, lenNorm, changed) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
         r.getBoolean(4))
      val prefix = texts(id).take(120)
      val es = prefix.count(_ == 'e')
      // dirty = BOM + prefix-with-doubled-e + ZWSP; norm composes each
      // e+acute into one é and drops the two zero-width marks
      assert(lenDirty == prefix.length + es + 2, s"doc $id dirty length")
      assert(lenNorm == prefix.length, s"doc $id normalized length")
      assert(changed, s"doc $id must always shed the BOM/ZWSP")
      assert(norm == prefix.replace("e", "\u00E9"), s"doc $id composed text")
    }
  }
}
