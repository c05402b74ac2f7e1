package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper
import graft.ops.Det

/** The native codegen expressions must be bit-identical to the
  * built-in-composed formulas they replaced (Det documents those
  * formulas; the DuckDB oracles spell them out in SQL). These tests pin
  * the equivalence on randomized token/vector frames so a future edit
  * to either side can't silently diverge from the oracles.
  */
class NativeExprSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def tokensDf = {
    import spark.implicits._
    val words = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value", "a", "the")
    (1 to 40).map { i =>
      (i.toLong, (0 until (i % 7) + 2).map(j => words((i * 7 + j * 3) % words.size)))
    }.toDF("id", "tokens")
  }

  test("minhash_sig == composed HOF formula (Det.minhashPerm over shingle hashes)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val P = Det.MinHashP
    val composed = tokensDf
      .withColumn("th", transform($"tokens", t => Det.h7(t)))
      .withColumn("hashes",
        when(size($"th") >= 3,
          transform(sequence(lit(1), size($"th") - 2), i =>
            ((element_at($"th", i) * 31L + element_at($"th", i + 1)) % P * 31L
              + element_at($"th", i + 2)) % P))
          .otherwise(array(Det.h7(concat_ws(" ", $"tokens")))))
      .withColumn("sig_composed",
        transform(sequence(lit(0), lit(63)),
          j => array_min(transform($"hashes", h => Det.minhashPerm(j, h)))))
      .withColumn("sig_native", expr("minhash_sig(tokens)"))
    assert(composed.filter(not($"sig_composed" <=> $"sig_native")).count() == 0)
  }

  test("minhash_from_shingles(shingle_hashes(t, 3)) == minhash_sig(t)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // The permutation minima are invariant under shingle de-duplication
    // (min over the distinct set == min over the raw fold) and both
    // producers share the <3-token joined-string fallback, so deriving
    // the signature from the exact w=3 shingle set is bit-identical to
    // hashing the tokens again. q147/q177/q191/q219 rely on this to run
    // the md5 pass once per document.
    val df = tokensDf
      .withColumn("derived",
        expr("minhash_from_shingles(shingle_hashes(tokens, 3))"))
      .withColumn("direct", expr("minhash_sig(tokens)"))
    assert(df.filter(not($"derived" <=> $"direct")).count() == 0)
    // single-token and empty-array edge shapes
    val edges = spark.sql(
      """SELECT minhash_from_shingles(shingle_hashes(array('one'), 3)) AS d,
        |       minhash_sig(array('one')) AS m""".stripMargin)
    assert(edges.filter(not($"d" <=> $"m")).count() == 0)
  }

  test("shingle_hashes_pre(t, token_h7s(t), w) == shingle_hashes(t, w); composed sig matches") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // token_h7s is the shared md5 pass; any width's shingle set must fold
    // from it bit-identically, including the <w joined-string fallback
    // (short docs) — q26/q282 derive two widths from one pass.
    val df = tokensDf
      .unionByName(Seq((9001L, Seq("solo")), (9002L, Seq("two", "toks")),
        (9003L, Seq.empty[String])).toDF("id", "tokens"))
    val checked = (2 to 4).foldLeft(df) { (d, w) =>
      d.withColumn(s"direct_$w", expr(s"shingle_hashes(tokens, $w)"))
        .withColumn(s"pre_$w",
          expr(s"shingle_hashes_pre(tokens, token_h7s(tokens), $w)"))
    }
    (2 to 4).foreach { w =>
      assert(checked.filter(not(col(s"direct_$w") <=> col(s"pre_$w"))).count() == 0,
        s"width $w diverged")
    }
    // per-token hashes match the h7 formula
    val th = df.withColumn("native", expr("token_h7s(tokens)"))
      .withColumn("composed", transform($"tokens", t => Det.h7(t)))
    assert(th.filter(not($"native" <=> $"composed")).count() == 0)
    // the full derived signature equals the direct one
    val sig = df
      .withColumn("derived", expr(
        "minhash_from_shingles(shingle_hashes_pre(tokens, token_h7s(tokens), 3))"))
      .withColumn("direct", expr("minhash_sig(tokens)"))
    assert(sig.filter(not($"derived" <=> $"direct")).count() == 0)
  }

  test("h7 == composed md5-prefix formula, including empty string and null") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = tokensDf
      .select($"id", concat_ws(" ", $"tokens").as("s"))
      .unionByName(Seq((9001L, "")).toDF("id", "s"))
      .withColumn("native", expr("h7(s)"))
      .withColumn("composed",
        expr("cast(conv(substring(md5(s), 1, 7), 16, 10) as bigint)"))
    assert(df.filter($"native" =!= $"composed").count() == 0)
    // 28-bit range
    assert(df.filter($"native" < 0L || $"native" >= (1L << 28)).count() == 0)
    // null in, null out (UnaryExpression null semantics)
    assert(spark.sql("SELECT h7(CAST(NULL AS STRING)) AS h")
      .filter($"h".isNull).count() == 1)
  }

  test("shingle_hashes == composed distinct bigram hash formula") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val P = Det.MinHashP
    val composed = tokensDf
      .withColumn("th", transform($"tokens", t => Det.h7(t)))
      .withColumn("ng_composed", array_sort(array_distinct(
        when(size($"th") >= 2,
          transform(sequence(lit(1), size($"th") - 1), i =>
            (element_at($"th", i) * 31L + element_at($"th", i + 1)) % P))
          .otherwise(array(Det.h7(concat_ws(" ", $"tokens")))))))
      .withColumn("ng_native", expr("shingle_hashes(tokens)"))
    assert(composed.filter(not($"ng_composed" <=> $"ng_native")).count() == 0)
  }

  test("lsh_buckets == composed hyperplane-sign formula") {
    import spark.implicits._
    GraftFunctions.register(spark)
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val vecs = (1 to 20).map { i =>
      (i.toLong, (1 to 64).map(d => math.sin(i * 64.0 + d).toFloat).toArray)
    }.toDF("id", "embedding")
    val composed = vecs
      .withColumn("v", Det.toDoubleArr($"embedding"))
      .withColumn("b_composed",
        transform(sequence(lit(0), lit(3)), t =>
          aggregate(sequence(lit(0), lit(5)), lit(0L), (acc, k) =>
            acc + when(
              aggregate(sequence(lit(1), lit(64)), lit(0.0), (dacc, d) =>
                dacc + ((((t * 6 + k) * 64 + d).cast(LongType) * Det.Knuth % 4294967296L)
                  .cast(DoubleType) / 2147483648.0 - 1.0) * element_at($"v", d)) >= 0.0,
              pow(lit(2.0), k).cast(LongType)).otherwise(0L))))
      .withColumn("b_native", expr("lsh_buckets(v)"))
    assert(composed.filter(not($"b_composed" <=> $"b_native")).count() == 0)
  }

  test("fold_dot == composed Det.dot left fold") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val vecs = (1 to 20).map { i =>
      (i.toLong,
        (1 to 64).map(d => math.sin(i * 64.0 + d)).toArray,
        (1 to 64).map(d => math.cos(i * 31.0 + d)).toArray)
    }.toDF("id", "a", "b")
    val composed = vecs
      .withColumn("d_composed", Det.dot($"a", $"b"))
      .withColumn("d_native", expr("fold_dot(a, b)"))
    assert(composed.filter(not($"d_composed" <=> $"d_native")).count() == 0)
  }

  test("pq_encode == composed argmin over per-subspace squared-diff folds") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val sub = 8; val dims = 8; val k = 16
    // deterministic pseudo-vectors including exact-tie cases (vector 0
    // equals centroid 0 and centroid 1 in subspace 0 -> lowest index wins)
    val cb: Array[Double] = Array.tabulate(sub * k * dims) { i =>
      val c = (i / dims) % k
      if (c <= 1) 0.5 else math.sin(i * 0.37)
    }
    val vecs = (0 to 19).map { i =>
      (i.toLong, (0 until sub * dims).map { d =>
        if (i == 0 && d < dims) 0.5 else math.cos(i * 64.0 + d)
      }.toArray)
    }.toDF("id", "v")
    def d2(v: org.apache.spark.sql.Column, j: Int, c: Int) =
      (0 until dims).map { d =>
        val x = element_at(v, j * dims + d + 1) - lit(cb((j * k + c) * dims + d))
        x * x
      }.reduce(_ + _)
    def codeCol(v: org.apache.spark.sql.Column, j: Int) =
      array_sort(array((0 until k).map(c =>
        struct(d2(v, j, c).as("d2"), lit(c).as("cid"))): _*))(0)("cid")
    val both = vecs
      .withColumn("native",
        call_function("pq_encode", $"v", typedlit(cb.toSeq), lit(sub), lit(dims)))
      .withColumn("composed",
        array((0 until sub).map(j => codeCol($"v", j)): _*))
    assert(both.filter(not($"native" <=> $"composed")).count() == 0)
    // the planted tie resolves to centroid 0, not 1
    assert(both.filter($"id" === 0).head().getAs[Seq[Int]]("native").head == 0)
  }

  test("pq_encode rejects bad geometry with clear errors, not opaque out-of-bounds") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(n: Int) = new GenericArrayData(Array.tabulate(n)(_.toDouble))
    val shortVec = intercept[IllegalArgumentException](
      PqEncode.compute(arr(7), arr(32), 2, 4))
    assert(shortVec.getMessage.contains("vector length 7"))
    val badCb = intercept[IllegalArgumentException](
      PqEncode.compute(arr(8), arr(33), 2, 4))
    assert(badCb.getMessage.contains("codebook length 33"))
    val emptyCb = intercept[IllegalArgumentException](
      PqEncode.compute(arr(8), arr(0), 2, 4))
    assert(emptyCb.getMessage.contains("codebook length 0"))
    val zeroSub = intercept[IllegalArgumentException](
      PqEncode.compute(arr(8), arr(32), 0, 4))
    assert(zeroSub.getMessage.contains("must be positive"))
  }

  test("shingle_hashes width < 2 is an ANALYSIS error, not a runtime failure") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq(Tuple1(Seq("a", "b", "c"))).toDF("toks")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      df.select(expr("shingle_hashes(toks, 1)")).queryExecution.analyzed)
    assert(e.getMessage.contains("width must be >= 2"))
    val n = intercept[org.apache.spark.sql.AnalysisException](
      df.select(expr("shingle_hashes(toks, CAST(NULL AS INT))")).queryExecution.analyzed)
    assert(n.getMessage.toLowerCase.contains("width must not be null"))
  }

  test("shingle_windows generator: exact windows, edge cases, codegen'd Generate") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val docs = Seq(
      (1L, "a b c d"), // two windows
      (2L, "x y"),     // fewer than w: no rows
      (3L, "k k k"),   // exactly one window
      (4L, null.asInstanceOf[String]) // null input: no rows
    ).toDF("doc_id", "text")
    val gen = docs.select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", expr("shingle_windows(toks, 3)"))
    val p = gen.queryExecution.executedPlan.toString
    assert(p.contains("Generate"), s"no Generate node:\n$p")
    // CollectionGenerator + doGenCode => the fan-out stays inside
    // whole-stage codegen (the starred span)
    assert("""\*\(\d+\) Generate""".r.findFirstIn(p).isDefined,
      s"Generate fell out of whole-stage codegen:\n$p")
    val rows = gen.orderBy($"doc_id", $"pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(rows == Seq((1L, 1, "a b c"), (1L, 2, "b c d"), (3L, 1, "k k k")))
    // width 1 degenerates to per-token rows with 1-based positions
    val w1 = docs.filter($"doc_id" === 1L)
      .select(expr("shingle_windows(split(text, ' '), 1)"))
      .orderBy($"pos").collect().map(_.getString(1)).toSeq
    assert(w1 == Seq("a", "b", "c", "d"))
    // invalid widths are analysis errors, not runtime failures
    val bad = intercept[org.apache.spark.sql.AnalysisException](
      docs.select(expr("shingle_windows(split(text, ' '), 0)")).queryExecution.analyzed)
    assert(bad.getMessage.contains("width must be >= 1"))
  }

  test("GraftExtensions: injected functions survive newSession (temp registrations don't)") {
    // newSession() rebuilds session state from the builder's extensions,
    // dropping per-session temp functions — so SQL working there proves
    // the functions come from the injectFunction path, not from a
    // GraftFunctions.register call some earlier test made.
    val fresh = spark.newSession()
    val row = fresh.sql(
      """SELECT fold_dot(CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>),
        |                CAST(array(3.0, 4.0) AS ARRAY<DOUBLE>)) AS d,
        |       size(minhash_sig(array('a', 'b', 'c'))) AS m
        |""".stripMargin).first()
    assert(row.getAs[Double]("d") == 11.0)
    assert(row.getAs[Int]("m") == 64)
  }

  test("null array elements: token expressions skip them, fold_dot zeroes the term") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val row = Seq(1).toDF("x").select(
      expr("minhash_sig(array('a', CAST(NULL AS STRING), 'b', 'c'))").as("m_null"),
      expr("minhash_sig(array('a', 'b', 'c'))").as("m_ref"),
      expr("simhash_sig(array('a', CAST(NULL AS STRING), 'b'))").as("s_null"),
      expr("simhash_sig(array('a', 'b'))").as("s_ref"),
      expr("shingle_hashes(array('a', CAST(NULL AS STRING), 'b'))").as("g_null"),
      expr("shingle_hashes(array('a', 'b'))").as("g_ref"),
      expr("fold_dot(CAST(array(1.0, NULL, 2.0) AS ARRAY<DOUBLE>), CAST(array(3.0, 4.0, 5.0) AS ARRAY<DOUBLE>))").as("d"))
      .first()
    assert(row.getAs[scala.collection.Seq[Long]]("m_null") ==
      row.getAs[scala.collection.Seq[Long]]("m_ref"))
    assert(row.getAs[Long]("s_null") == row.getAs[Long]("s_ref"))
    assert(row.getAs[scala.collection.Seq[Long]]("g_null") ==
      row.getAs[scala.collection.Seq[Long]]("g_ref"))
    assert(row.getAs[Double]("d") == 1.0 * 3.0 + 2.0 * 5.0)
  }

  test("zip_eq_count == the HOF idiom") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = (1 to 50).map { i =>
      val a = (0 until 64).map(j => ((i * 31 + j * 7) % 9).toLong)
      val b = (0 until 64).map(j => ((i * 17 + j * 5) % 9).toLong)
      (a, b)
    }.toDF("a", "b")
    def hof = size(filter(zip_with($"a", $"b", (x, y) => x === y), v => v))
    val out = df.select(hof.as("composed"), expr("zip_eq_count(a, b)").as("native"))
    assert(out.filter($"composed" =!= $"native").count() == 0)
    // some agreement exists in this fixture, so the test can't pass vacuously
    assert(out.filter($"native" > 0).count() > 0)
  }

  test("sorted_overlap == size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val sets = (1 to 30).map { i =>
      (i.toLong,
        (0 until 20).map(j => ((i * 7 + j * 3) % 40).toLong).distinct.sorted.toArray,
        (0 until 15).map(j => ((i * 5 + j * 4) % 40).toLong).distinct.sorted.toArray)
    }.toDF("id", "a", "b")
    val cmp = sets
      .withColumn("n_composed", size(array_intersect($"a", $"b")).cast("long"))
      .withColumn("n_native", expr("sorted_overlap(a, b)"))
    assert(cmp.filter(not($"n_composed" <=> $"n_native")).count() == 0)
  }

  test("jaro_winkler == DuckDB jaro_winkler_similarity golden values (byte-wise)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // Golden fixtures probed from DuckDB this round; they pin every
    // semantic branch the q140 oracle depends on: empty → 0 (not the
    // textbook 1), UTF-8 BYTE comparison, the max/2−1 window, halved
    // transpositions, and the >0.7-gated Winkler boost.
    val golden = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),     // one transposition
      ("DIXON", "DICKSONX", 0.8133333333333332),    // 2-byte prefix boost
      ("JELLYFISH", "SMELLYFISH", 0.8962962962962964), // no common prefix
      ("", "", 0.0),                                // DuckDB: empty → 0
      ("a", "", 0.0),
      ("abc", "abc", 1.0),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("aaaaaab", "aaaaaac", 0.9428571428571428),
      ("abcdefgh", "hgfedcba", 0.5),
      ("CRATE", "TRACE", 0.7333333333333334),       // jaro>0.7, prefix 0
      ("ab", "ba", 0.0),                            // window 0: no matches
      ("abcdxxxxxx", "abcdyyyyyy", 0.6),            // prefix 4 but jaro≤0.7: NO boost
      ("ab", "abcdefghijklmnop", 0.7666666666666667), // boost just past 0.7
      ("héllo", "hello", 0.8400000000000001),       // BYTES: 6 vs 5, not chars
      ("日本語テスト", "日本語テスロ", 0.9777777777777777), // 18-byte CJK
      ("clod widget", "cold widget", 0.9727272727272728), // q140's mutant class
      ("lrage bolt", "large bolt", 0.97),
      ("hto rod", "hot rod", 0.9571428571428572))
    golden.toDF("a", "b", "want")
      .withColumn("got", expr("jaro_winkler(a, b)"))
      .collect()
      .foreach { r =>
        assert(r.getDouble(3) == r.getDouble(2),
          s"jaro_winkler(${r.getString(0)}, ${r.getString(1)})")
      }
    // symmetry and [0,1] range over arbitrary token-soup pairs
    val pairs = tokensDf.select(concat_ws(" ", $"tokens").as("a"))
      .crossJoin(tokensDf.select(concat_ws(" ", $"tokens").as("b")).limit(7))
      .withColumn("ab", expr("jaro_winkler(a, b)"))
      .withColumn("ba", expr("jaro_winkler(b, a)"))
    assert(pairs.filter(not($"ab" <=> $"ba")).count() == 0)
    assert(pairs.filter($"ab" < 0.0 || $"ab" > 1.0).count() == 0)
    // non-string inputs are an analysis error
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(expr("jaro_winkler(id, 'x')")).queryExecution.analyzed
    }
    assert(err.getMessage.contains("jaro_winkler"))
  }
}
