package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class HashExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("minhash signature: length, determinism, identity, sensitivity") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different content with no shared words at all")
    ).toDF("id", "text")
    val sigs = docs
      .select(
        col("id"),
        HashExpressions.portableMinhashSignature(Text.wordShingles(col("text"), 3), 32).as("sig")
      )
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
      .toMap
    assert(sigs.values.forall(_.size == 32))
    assert(sigs(1L) === sigs(2L)) // identical text -> identical signature
    assert(sigs(1L) !== sigs(3L))
    val overlap = sigs(1L).zip(sigs(3L)).count { case (x, y) => x == y }
    assert(overlap <= 3) // disjoint shingle sets share ~0 minima
  }

  test("interpreted eval and codegen produce identical results") {
    val df = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq.empty[String]),
      (3L, Seq("a", null, "b", "c"))
    ).toDF("id", "arr")
    def run(mode: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try df.select(
        col("id"),
        HashExpressions.portableMinhashSignature(col("arr"), 8).as("mh"),
        HashExpressions.portableSimhashBits(col("arr")).as("sh")
      ).collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getString(2))).toMap
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    val got = run("CODEGEN_ONLY")
    assert(run("NO_CODEGEN") === got)
    // empty array: all-P31 sentinel minima, zero-vote simhash
    val (emptyMh, emptySh) = got(2L)
    assert(emptyMh.size === 8 && emptyMh.forall(_ == Hashing.P31))
    assert(emptySh === "0" * 64)
    // a null element is skipped, not hashed
    assert(got(3L) === got(1L))
    assert(got(1L)._1.forall(_ < Hashing.P31) && got(1L)._2.length === 64)
  }

  test("longDot: value-identical to the HOF formulation, null/empty/length-mismatch safe") {
    val df = Seq(
      (1L, Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](4L, 5L, 6L)),      // 32
      (2L, Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](4L, 5L, 6L)),    // null elem -> 0
      (3L, Seq.empty[java.lang.Long], Seq[java.lang.Long](1L)),                    // empty
      (4L, Seq[java.lang.Long](2L, 3L), Seq[java.lang.Long](10L, 10L, 99L))        // min-length
    ).toDF("id", "a", "b")
    def run(mode: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try df.select(col("id"), HashExpressions.longDot(col("a"), col("b")).as("d"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    val got = run("CODEGEN_ONLY")
    assert(got === Map(1L -> 32L, 2L -> 22L, 3L -> 0L, 4L -> 50L))
    assert(run("NO_CODEGEN") === got)
    // matches the portable aggregate/zip_with spelling on equal-length,
    // non-null vectors (zip_with null-PADS mismatched lengths; longDot sums
    // over the min length — operators always pass fixed-dim vectors)
    val hof = df.filter(col("id") === 1L).select(col("id"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0L), _ + _).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hof === Map(1L -> got(1L)))
  }

  test("longSetContains: binary-searched membership, codegen ≡ interpreted") {
    val set = Array(-40L, -1L, 0L, 7L, 7000000000L).sorted
    val df = Seq(-41L, -40L, -1L, 0L, 1L, 7L, 8L, 7000000000L, Long.MaxValue).toDF("v")
    def run(mode: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try df.select(col("v"), SetExpressions.longSetContains(col("v"), set).as("in"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    val got = run("CODEGEN_ONLY")
    assert(got === Map(-41L -> false, -40L -> true, -1L -> true, 0L -> true,
      1L -> false, 7L -> true, 8L -> false, 7000000000L -> true, Long.MaxValue -> false))
    assert(run("NO_CODEGEN") === got)
    // unsorted / duplicated sets are refused (callers sort-distinct)
    val bad = intercept[Exception] {
      df.select(SetExpressions.longSetContains(col("v"), Array(3L, 2L))).collect()
    }
    assert(bad.getMessage.contains("ascending"))
  }

  test("packBytes/byteDot: unsigned semantics, clamping, codegen ≡ interpreted") {
    val df = Seq(
      (1L, Seq(0L, 128L, 255L), Seq(1L, 1L, 1L)),      // high bytes stay unsigned
      (2L, Seq(-5L, 300L, 7L), Seq(255L, 255L, 0L)),    // clamped to 0 / 255
      (3L, Seq.empty[Long], Seq(9L))                    // length-mismatch-safe
    ).toDF("id", "a", "b")
    def run(mode: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try df.select(col("id"),
        ByteCodes.byteDot(ByteCodes.packBytes(col("a")), ByteCodes.packBytes(col("b"))).as("d"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    val got = run("CODEGEN_ONLY")
    assert(got === Map(1L -> (0L + 128L + 255L), 2L -> (0L * 255L + 255L * 255L), 3L -> 0L))
    assert(run("NO_CODEGEN") === got)
  }
}
