package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** A graft session case-maps through the JVM, not ICU
  * (`spark.sql.icu.caseMappings.enabled=false` in [[GraftSession]]). That
  * is only sound while the two mappings agree where graft reads them:
  * `lower` everywhere, `upper` on ASCII. These cases pin the agreement over
  * every defined code point, so a JDK or Spark upgrade that moves either
  * mapping fails here rather than shifting a token, a language id or a
  * code-correction key.
  */
class CaseMappingSpec extends SparkSpec {
  import spark.implicits._

  private def icu(s: String, upper: Boolean): String = {
    val u = UTF8String.fromString(s)
    val id = CollationFactory.UTF8_BINARY_COLLATION_ID
    (if (upper) CollationSupport.Upper.exec(u, id, true)
     else CollationSupport.Lower.exec(u, id, true)).toString
  }

  /** Each defined code point as a one-character string (lone surrogates
    * have no UTF-8 form).
    */
  private lazy val codePoints: Seq[String] = (0 until 0x110000)
    .filter(cp => Character.isDefined(cp) &&
      Character.getType(cp) != Character.SURROGATE)
    .map(Character.toString)

  /** Context-dependent mappings: Greek final sigma (word-final, before
    * punctuation, alone, mid-word) and U+0130, whose lower case is i plus
    * U+0307 under the root locale.
    */
  private val contexts = Seq("ΟΔΟΣ", "ΟΔΟΣ ΚΑΙ", "ΟΔΟΣ.", "Σ", "ΣΑ", "ΑΣΑ",
    "ΑΣ'Α", "ΑΣ́", "İ", "İSTANBUL", "Aİ", "İ̇", "Iİı")

  private def hex(s: String): String =
    s.codePoints.toArray.map(cp => f"U+$cp%04X").mkString(" ")

  /** (input, the session's `f(input)`) for every input, run as a job. */
  private def session(f: Column => Column, in: Seq[String]) =
    spark.sparkContext.parallelize(in, 4).toDF("s")
      .select($"s", f($"s")).as[(String, String)].collect().toSeq

  test("a graft session case-maps through the JVM") {
    assert(spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false")
  }

  test("lower equals the ICU mapping on every defined code point and in " +
      "the final-sigma and U+0130 contexts") {
    val in = codePoints ++ contexts
    val differ = session(lower, in).collect {
      case (s, l) if l != icu(s, upper = false) => hex(s)
    }
    assert(differ.isEmpty, differ.take(20).mkString("lower differs on: ", ", ", ""))
  }

  test("upper differs from ICU on exactly U+019B and U+0264") {
    val differ = session(upper, codePoints).collect {
      case (s, u) if u != icu(s, upper = true) => hex(s)
    }.toSet
    assert(differ == Set("U+019B", "U+0264"), differ.toSeq.sorted.mkString(", "))
  }
}
