package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

class TextExprsSpec extends SparkSpec {

  private def arr(xs: Long*) = new GenericArrayData(xs.toArray)

  test("shingleHashes matches the polynomial definition") {
    val h = TextHashOps.shingleHashes(UTF8String.fromString("abcde"), 4, false)
    val a = 'a'.toLong; val b = 'b'.toLong; val c = 'c'.toLong; val d = 'd'.toLong; val e = 'e'.toLong
    assert(h.toLongArray().toSeq == Seq(
      ((a * 31 + b) * 31 + c) * 31 + d,
      ((b * 31 + c) * 31 + d) * 31 + e))
    // distinct preserves first occurrence
    val dup = TextHashOps.shingleHashes(UTF8String.fromString("aaaaa"), 4, true)
    assert(dup.toLongArray().length == 1)
    // shorter than k -> empty
    assert(TextHashOps.shingleHashes(UTF8String.fromString("ab"), 4, false).numElements() == 0)
  }

  test("minhashSig is permutation-min and order-insensitive") {
    val s1 = TextHashOps.minhashSig(arr(1L, 2L, 3L), 32).toLongArray().toSeq
    val s2 = TextHashOps.minhashSig(arr(3L, 1L, 2L), 32).toLongArray().toSeq
    assert(s1 == s2)
    assert(s1.length == 32)
    val P = 2147483647L
    val a1 = (1103515245L * 1 + 12345L) % P
    val b1 = (1103515245L * 102 + 54321L) % P
    assert(s1.head == Seq(1L, 2L, 3L).map(x => (a1 * x + b1) % P).min)
  }

  test("jaccardBp is exact set Jaccard in basis points") {
    assert(TextHashOps.jaccardBp(arr(1, 2, 3, 4), arr(3, 4, 5, 6)) == 2L * 10000 / 6)
    assert(TextHashOps.jaccardBp(arr(1, 2), arr(1, 2)) == 10000L)
    assert(TextHashOps.jaccardBp(arr(), arr()) == 10000L)
    assert(TextHashOps.jaccardBp(arr(1), arr(2)) == 0L)
    // multiset input is deduped
    assert(TextHashOps.jaccardBp(arr(1, 1, 2), arr(2, 2, 1)) == 10000L)
  }

  test("simhash48: identical multisets collide, disjoint ones differ") {
    val base = (1L to 400L).toArray
    val near = base.clone(); near(0) = 9999L // 1 of 400 features changed
    val far = (10000L to 10400L).toArray
    val h0 = TextHashOps.simhash48(new GenericArrayData(base))
    val h1 = TextHashOps.simhash48(new GenericArrayData(near))
    val h2 = TextHashOps.simhash48(new GenericArrayData(far))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h0, h0) == 0)
    assert(ham(h0, h1) <= 8)   // near-identical input -> small hamming distance
    assert(ham(h0, h2) >= 10)  // unrelated input -> large hamming distance
  }

  test("cosineSim: exact on known vectors, 0 on zero vector") {
    def f(xs: Float*) = {
      val a = new Array[Any](xs.length)
      xs.zipWithIndex.foreach { case (x, i) => a(i) = x }
      new GenericArrayData(a)
    }
    assert(TextHashOps.cosineSim(f(1f, 0f), f(1f, 0f)) == 1.0)
    assert(TextHashOps.cosineSim(f(1f, 0f), f(0f, 1f)) == 0.0)
    assert(math.abs(TextHashOps.cosineSim(f(1f, 1f), f(1f, 0f)) - 1.0 / math.sqrt(2)) < 1e-15)
    assert(TextHashOps.cosineSim(f(0f, 0f), f(1f, 2f)) == 0.0)
  }

  test("SQL registration: expressions usable from expr() and spark.sql") {
    // no registration call: the test session is Engine.session, which
    // installs the functions through GraftExtensions
    import spark.implicits._
    val df = Seq(("abcdefgh", Array(1.0f, 0.0f)), ("abcdefgh", Array(0.5f, 0.5f)))
      .toDF("text", "vec")
    val out = df.select(
      expr("simhash48(shingle_hashes(text, 4, false))").as("sh"),
      expr("size(minhash_sig(shingle_hashes(text, 4, true), 32))").as("np"),
      expr("jaccard_bp(shingle_hashes(text, 4, true), shingle_hashes(text, 4, true))").as("j"),
      expr("cosine_sim(vec, vec)").as("c")).collect()
    assert(out.forall(_.getInt(1) == 32))
    assert(out.forall(_.getLong(2) == 10000))
    assert(out.forall(r => math.abs(r.getDouble(3) - 1.0) < 1e-12))
    assert(out(0).getLong(0) == out(1).getLong(0)) // same text -> same simhash
    df.createOrReplaceTempView("text_exprs_reg")
    val viaSql = spark.sql(
      "SELECT jaccard_bp(shingle_hashes(text, 4, true), shingle_hashes(text, 4, true)) AS j FROM text_exprs_reg")
      .collect()
    assert(viaSql.length == 2)
    assert(viaSql.forall(_.getLong(0) == 10000))
  }

  test("GraftExtensions injects functions into an extension-built session") {
    // no registration call: the functions come from the extensions every
    // Engine.session child inherits
    val child = spark.newSession()
    val viaSql = child.sql(
      """SELECT simhash48(shingle_hashes('the quick brown fox', 4, false)) AS h,
                size(minhash_sig(shingle_hashes('the quick brown fox', 4, true), 32)) AS np,
                cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
                           array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c""").collect()
    assert(child ne spark)
    assert(viaSql.length == 1)
    assert(viaSql(0).getLong(0) != 0L)
    assert(viaSql(0).getInt(1) == 32)
    assert(viaSql(0).getDouble(2) == 1.0)
  }

  test("l2_sq: exact squared distance, index order") {
    def f(xs: Float*) = {
      val a = new Array[Any](xs.length)
      xs.zipWithIndex.foreach { case (x, i) => a(i) = x }
      new GenericArrayData(a)
    }
    assert(TextHashOps.l2Sq(f(1f, 2f), f(1f, 2f)) == 0.0)
    assert(TextHashOps.l2Sq(f(0f, 0f), f(3f, 4f)) == 25.0)
  }

  test("property: polyHash == Horner reference on arbitrary ASCII strings") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val ascii = Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)
    val prop = Prop.forAll(ascii) { s =>
      val ref = s.foldLeft(0L)((h, c) => (h * 31 + c) % 2147483647L)
      TextHashOps.polyHash(UTF8String.fromString(s)) == ref
    }
    assert(SCTest.check(SCTest.Parameters.default, prop).passed)
  }

  test("property: sorted-merge Jaccard == hash-set Jaccard on arbitrary arrays") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val arrays = Gen.listOf(Gen.choose(0L, 50L)).map(_.toArray)
    val prop = Prop.forAll(arrays, arrays) { (xs, ys) =>
      val merge = TextHashOps.jaccardBpSorted(
        new GenericArrayData(xs.sorted), new GenericArrayData(ys.sorted))
      val sets = TextHashOps.jaccardBp(
        new GenericArrayData(xs), new GenericArrayData(ys))
      merge == sets
    }
    assert(SCTest.check(SCTest.Parameters.default, prop).passed)
  }

  test("property: bitmap popcount Jaccard == sorted-merge Jaccard on arbitrary bit sets") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val nWords = 4 // 256-bit universe
    val idSets = Gen.listOf(Gen.choose(0L, nWords * 64L - 1)).map(_.distinct.toArray)
    val prop = Prop.forAll(idSets, idSets) { (xs, ys) =>
      val words = TextHashOps.jaccardBpWords(
        TextHashOps.bitsToWords(new GenericArrayData(xs), nWords),
        TextHashOps.bitsToWords(new GenericArrayData(ys), nWords))
      val merge = TextHashOps.jaccardBpSorted(
        new GenericArrayData(xs.sorted), new GenericArrayData(ys.sorted))
      words == merge
    }
    assert(SCTest.check(SCTest.Parameters.default, prop).passed)
  }

  test("bits_to_words fails fast on out-of-range ids (silent drop would corrupt Jaccard)") {
    intercept[IllegalArgumentException] {
      TextHashOps.bitsToWords(new GenericArrayData(Array(256L)), 4)
    }
    intercept[IllegalArgumentException] {
      TextHashOps.bitsToWords(new GenericArrayData(Array(-1L)), 4)
    }
  }

  test("property: dot_d with precomputed norms == fused cosine_sim bit-for-bit") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def f(xs: Seq[Float]) = {
      val a = new Array[Any](xs.length)
      xs.zipWithIndex.foreach { case (x, i) => a(i) = x }
      new GenericArrayData(a)
    }
    val vecs = Gen.listOfN(16, Gen.choose(-100, 100).map(_ / 10.0f))
    val prop = Prop.forAll(vecs, vecs) { (xs, ys) =>
      val fused = TextHashOps.cosineSim(f(xs), f(ys))
      val na = TextHashOps.dotD(f(xs), f(xs))
      val nb = TextHashOps.dotD(f(ys), f(ys))
      val split =
        if (na == 0.0 || nb == 0.0) 0.0
        else TextHashOps.dotD(f(xs), f(ys)) / math.sqrt(na * nb)
      java.lang.Double.doubleToLongBits(fused) == java.lang.Double.doubleToLongBits(split)
    }
    assert(SCTest.check(SCTest.Parameters.default, prop).passed)
  }

  test("bigram_bucket_score == the exploded element_at pipeline, codegen on and off") {
    import spark.implicits._
    // edge shapes: empty, one word, plain, double space (empty token),
    // leading/trailing space, repeated bigrams, non-ASCII chars
    val texts = Seq("", "one", "alpha beta gamma alpha beta",
      "a  b", " lead", "trail ", "héllo wörld héllo wörld wörld",
      "x y x y x y x y")
    val llr = Array.tabulate(256)(i => (i % 7 - 3).toLong)
    val llrLit = llr.mkString("array(", "L, ", "L)")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def naive() = df
      .select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id", explode(expr(
        """CASE WHEN size(w) >= 2
             THEN transform(sequence(1, size(w) - 1),
                            i -> concat_ws(' ', slice(w, i, 2)))
             ELSE array() END""")).as("gram"))
      .select($"doc_id", expr(s"element_at($llrLit, int(poly_hash(gram) % 256) + 1)").as("v"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def fused() = df
      .select($"doc_id", expr(s"bigram_bucket_score(text, $llrLit)").as("sb"))
      .collect().map(r => r.getLong(0) ->
        (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1))).toMap
    val expected = naive()
    val on = fused()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val off = try fused() finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(on == off)
    texts.indices.map(_.toLong).foreach { id =>
      val exp = expected.getOrElse(id, (0L, 0L)) // no-bigram docs: (0, 0)
      assert(on(id) == exp, s"doc $id: ${on(id)} vs $exp")
    }
  }

  test("quality_census == the exploded token census, codegen on and off") {
    import spark.implicits._
    val texts = Seq("", "one", "the quick the quick the", "a  b", " lead",
      "trail ", "and and and and of of the", "x", "the the")
    val stops = Seq("the", "and", "of")
    val stopsLit = stops.map(s => s"'$s'").mkString("array(", ",", ")")
    val inList = stops.map(s => s"'$s'").mkString("(", ",", ")")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def naive() = df
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("n"))
      .groupBy($"doc_id")
      .agg(sum($"n").as("n_tok"), max($"n").as("max_freq"),
        sum(expr(s"CASE WHEN tok IN $inList THEN n ELSE 0 END")).as("n_stop"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def fused() = df
      .select($"doc_id", expr(s"quality_census(text, $stopsLit)").as("qc"))
      .collect().map(r => r.getLong(0) ->
        (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1), r.getStruct(1).getLong(2))).toMap
    val expected = naive()
    val on = fused()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val off = try fused() finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(on == off)
    assert(on == expected, s"$on vs $expected")
  }

  test("codegen path == interpreted path (whole-stage codegen on/off)") {
    import spark.implicits._
    val df = Seq.tabulate(50)(i => s"doc $i the quick brown fox jumps over row $i").toDF("text")
    def run() = df.select(
      expr("minhash_sig(shingle_hashes(text, 4, true), 32)"),
      expr("simhash48(shingle_hashes(text, 4, false))")).collect().map(_.toString).toSeq
    val on = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val off = try run() finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(on == off)
  }
}
