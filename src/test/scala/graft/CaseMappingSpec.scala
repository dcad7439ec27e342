package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.Row
import org.apache.spark.unsafe.types.UTF8String

/** Engine sessions run `lower`/`upper` on the JVM's case mapping
  * (`spark.sql.icu.caseMappings.enabled=false`, set by
  * `GraftFunctions.register`), which keeps the first `lower()` from
  * building Spark's 3.2 GB ICU title-case table. These checks pin that
  * the setting holds and that it changes no string the engine can
  * meet, except the listed code points JDK 17's Unicode 13 lacks. */
class CaseMappingSpec extends SparkTestBase {

  private val key = SQLConf.ICU_CASE_MAPPINGS_ENABLED.key

  /** Code points where `lower` differs between the two mappings: 67
    * capitals added in Unicode 14 or 16, which ICU 77 lowercases and
    * the JVM leaves as they are. */
  private val lowerDiffers = Seq(0x1C89 -> 0x1C89, 0x2C2F -> 0x2C2F,
    0xA7C0 -> 0xA7C0, 0xA7CB -> 0xA7CC, 0xA7D0 -> 0xA7D0, 0xA7D6 -> 0xA7D6,
    0xA7D8 -> 0xA7D8, 0xA7DA -> 0xA7DA, 0xA7DC -> 0xA7DC,
    0x10570 -> 0x1057A, 0x1057C -> 0x1058A, 0x1058C -> 0x10592,
    0x10594 -> 0x10595, 0x10D50 -> 0x10D65)

  /** Code points where `upper` differs: the 67 small letters of those
    * capitals. U+019B and U+0264 are old letters whose capitals (U+A7DC,
    * U+A7CB) are new in Unicode 16. */
  private val upperDiffers = Seq(0x019B -> 0x019B, 0x0264 -> 0x0264,
    0x1C8A -> 0x1C8A, 0x2C5F -> 0x2C5F, 0xA7C1 -> 0xA7C1, 0xA7CD -> 0xA7CD,
    0xA7D1 -> 0xA7D1, 0xA7D7 -> 0xA7D7, 0xA7D9 -> 0xA7D9, 0xA7DB -> 0xA7DB,
    0x10597 -> 0x105A1, 0x105A3 -> 0x105B1, 0x105B3 -> 0x105B9,
    0x105BB -> 0x105BC, 0x10D70 -> 0x10D85)

  test("GraftSession.local and register leave ICU case mappings off") {
    assert(spark.conf.get(key) === "false")
    val fresh = spark.newSession()
    assert(fresh.conf.get(key) === "true") // Spark's own default
    functions.GraftFunctions.register(fresh)
    assert(fresh.conf.get(key) === "false")
  }

  test("lower/upper match an ICU-mode session on a fixed Unicode sample") {
    val sample = Seq(
      "Ça Élève Über Ñandú Øre Ångström", // accented Latin
      "Straße GROẞE",                      // ß uppercases to SS
      "\u039f\u0394\u039f\u03a3 \u039f\u03b4\u03cc\u03c2", // Greek final sigma
      "İstanbul IĞDIR",                    // dotted capital I
      "東京都 Tōkyō ｶﾀｶﾅ")                    // CJK and half-width kana
    def caseMapped(s: SparkSession): Seq[(String, String)] = {
      val rows = s.sparkContext.parallelize(sample.map(Row(_)), 2)
      s.createDataFrame(rows, StructType(Seq(StructField("s", StringType))))
        // one invalid UTF-8 byte between two ASCII letters
        .union(s.range(1).select(unhex(lit("41FF62")).cast("string")))
        .select(lower(col("s")), upper(col("s")))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    }
    val icu = spark.newSession()
    icu.conf.set(key, "true")
    val jvm = caseMapped(spark)
    assert(jvm === caseMapped(icu))
    assert(jvm.map(_._2) contains "STRASSE GROẞE")
    assert(jvm.map(_._1) contains "\u03bf\u03b4\u03bf\u03c2 \u03bf\u03b4\u03cc\u03c2")
    assert(jvm.map(_._1).exists(_.startsWith("i\u0307stanbul"))) // i + dot above
    assert(jvm.last === ("a\uFFFDb", "A\uFFFDB"))
  }

  test("the two mappings differ on exactly the listed code points") {
    val binary = CollationFactory.UTF8_BINARY_COLLATION_ID
    def differing(exec: (UTF8String, Int, Boolean) => UTF8String) =
      (0 to Character.MAX_CODE_POINT).filter { cp =>
        cp < Character.MIN_SURROGATE || cp > Character.MAX_SURROGATE
      }.filter { cp =>
        val s = UTF8String.fromString(new String(Character.toChars(cp)))
        exec(s, binary, true) != exec(s, binary, false)
      }
    def expand(rs: Seq[(Int, Int)]) = rs.flatMap { case (a, b) => a to b }
    assert(differing(CollationSupport.Lower.exec) === expand(lowerDiffers))
    assert(differing(CollationSupport.Upper.exec) === expand(upperDiffers))
  }
}
