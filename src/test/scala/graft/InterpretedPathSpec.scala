package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The native expressions must produce identical results through the
  * interpreted eval path (codegen disabled) — type-coercion bugs hide
  * there because generated Java silently widens primitives where
  * `asInstanceOf` throws. */
class InterpretedPathSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.SparkUtil.configure(
        SparkSession.builder().master("local[4]"), "4")
      .config("spark.sql.codegen.wholeStage", "false")
      .config("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("SAX queries run and agree with goldens under NO_CODEGEN") {
    val dir = "/root/testdata/sf0.001"
    // windowed encode: histogram top entry matches the known fixture value
    val words = SparkEntry.queries("q02_sax_window_encode")(spark, dir)
    val top = words.groupBy("word").count()
      .orderBy(org.apache.spark.sql.functions.desc("count"),
        org.apache.spark.sql.functions.asc("word"))
      .head()
    assert(top.getString(0) == "BDBB" && top.getLong(1) == 47L, top)
    // mindist via the struct expression (int literals coerced, not CCE)
    val md = SparkEntry.queries("q04_sax_mindist")(spark, dir)
    assert(md.count() == 1000)
    // q11 through the native SaxPaaExpr: interpreted results match the
    // pure-Scala kernel, and no boxed ScalaUDF remains in its plan
    val q11 = SparkEntry.queries("q11_sax_paa")(spark, dir)
    assert(!q11.queryExecution.executedPlan.toString.contains("ScalaUDF"),
      "q11 must run on the native expression, not a boxed UDF")
    val p = q11.where(org.apache.spark.sql.functions.col("user_id") === 1L).head()
    assert((1 to 4).forall(i => !p.isNullAt(i)), p)
    // sax_encode via the GraftExtensions native — interpreted path
    val r = spark.sql(
      "SELECT sax_encode(array(1.0D, 2.0D, 3.0D, 10.1D), 2, 4) AS w").head()
    assert(r.getString(0) == "AD")
    // sax_paa via the GraftExtensions SQL registration — interpreted path
    val pr = spark.sql(
      "SELECT sax_paa(array(10.3D, 7.0D, 1.0D, -5.0D, -5.0D, 7.2D), 2) AS p").head()
    assert(pr.getSeq[Double](0) ==
      graft.sax.Sax.paaNormalized(Array(10.3, 7.0, 1.0, -5.0, -5.0, 7.2), 2).toSeq)
  }

  test("vector expressions agree with a driver-side loop under NO_CODEGEN") {
    val dir = "/root/testdata/sf0.001"
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(org.apache.spark.sql.functions.col("vec_id") < 3)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"),
        graft.functions.VectorFunctions.vec_l2norm(
          org.apache.spark.sql.functions.col("embedding")).as("nrm"))
      .collect()
    for (r <- rows) {
      val e = r.getSeq[Float](1)
      var s = 0.0; e.foreach(x => s += x.toDouble * x.toDouble)
      assert(r.getDouble(2) == math.sqrt(s), s"norm of vec ${r.getLong(0)}")
    }
    // cosine through the SQL registration (GraftExtensions) — interpreted
    val c = spark.sql(
      """SELECT vec_cosine(CAST(array(1.0, 2.0, 2.0) AS ARRAY<FLOAT>),
        |                  CAST(array(2.0, 4.0, 4.0) AS ARRAY<FLOAT>)) AS c""".stripMargin).head()
    assert(math.abs(c.getDouble(0) - 1.0) < 1e-15)
    // ANN brute query end-to-end on the interpreted path
    assert(SparkEntry.queries("q40_ann_brute")(spark, dir).count() > 0)
  }

  test("text/bucket/quantize natives agree with TextHash + driver loops under NO_CODEGEN") {
    import org.apache.spark.sql.functions.col
    import graft.text.TextHash
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") < 5)
      .select(col("doc_id"), col("text"),
        graft.functions.TextFunctions.doc_shingles(col("text"), 3).as("sh"),
        graft.functions.TextFunctions.doc_simhash(col("text")).as("sim"),
        graft.functions.TextFunctions.min_shingle(col("text"), 3).as("ms"))
    // three band-key surfaces pinned together per row: MinhashBandsExpr,
    // the q81-style reconstruction from MinhashSigExpr (concat_ws over sig
    // slices), and the TextHash.bandKeys kernel — drift in any one fails here
    import org.apache.spark.sql.functions.{array, concat_ws, lit}
    // geometry derived from the ONE shared definition (TextHash.NumBands /
    // BandRows) — a constant change there cannot silently diverge from the
    // shape this spec pins
    import TextHash.{BandRows, NumBands}
    val sigCol = graft.functions.TextFunctions.minhash_sig(col("sh"))
    val bandsFromSig = array((0 until NumBands).map(b =>
      concat_ws(":", lit(b.toString) +: (b * BandRows until (b + 1) * BandRows)
        .map(j => sigCol(j).cast("string")): _*)): _*)
    val withBands = docs.select(col("doc_id"), col("text"), col("sh"), col("sim"), col("ms"),
      graft.functions.TextFunctions.minhash_bands(col("sh"), BandRows).as("bands"),
      sigCol.as("sig"), bandsFromSig.as("bands_from_sig"))
    for (r <- withBands.collect()) {
      val text = r.getString(1)
      val sh = TextHash.shingles(TextHash.tokenize(text), 3)
      assert(r.getSeq[String](2) == sh.toSeq, s"shingles of doc ${r.getLong(0)}")
      assert(r.getLong(3) == TextHash.simhash(TextHash.tokenize(text)))
      assert(r.getString(4) == sh.map(TextHash.md5Hex).min)
      assert(r.getSeq[String](5) == TextHash.bandKeys(TextHash.minhash(sh), BandRows).toSeq)
      assert(r.getSeq[Long](6) == TextHash.minhash(sh).toSeq, s"sig of doc ${r.getLong(0)}")
      assert(r.getSeq[String](7) == r.getSeq[String](5),
        s"bands-from-sig drift on doc ${r.getLong(0)}")
    }
    // LSH buckets + int8 quantize vs a driver-side loop over the sign bank
    import graft.functions.VectorCodegenOps.{NumPlanes, NumTables, Signs}
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.lsh_buckets(col("embedding"), 0, NumPlanes, NumPlanes).as("bk"),
        graft.functions.VectorFunctions.int8_quantize(col("embedding")).as("q"))
    for (r <- vecs.collect()) {
      val e = r.getSeq[Float](1)
      val expected = (0 until NumTables).map { t =>
        var bucket = 0
        for (j <- 0 until NumPlanes) {
          var acc = 0.0
          for (i <- e.indices) acc += Signs(t * NumPlanes + j)(i) * e(i).toDouble
          if (acc > 0) bucket |= (1 << j)
        }
        (t << NumPlanes) | bucket
      }
      assert(r.getSeq[Int](2) == expected, s"buckets of vec ${r.getLong(0)}")
      val q = r.getStruct(3)
      val mx = math.max(1e-12, e.map(x => math.abs(x.toDouble)).max)
      assert(q.getDouble(0) == math.floor(127.0 / mx * 1e6 + 0.5) / 1e6)
      val qs = e.zipWithIndex.map { case (x, i) => (math.floor(x.toDouble * (127.0 / mx) + 0.5).toInt, i) }
      assert(q.getLong(1) == qs.map { case (v, i) => v.toLong * (i + 1) }.sum)
      assert(q.getInt(2) == qs.map(_._1).min && q.getInt(3) == qs.map(_._1).max)
    }
    // SQL registration path for the new natives
    val s = spark.sql(
      "SELECT doc_shingles('a b c d', 3) AS sh, doc_simhash('a b c') AS sim").head()
    assert(s.getSeq[String](0) == Seq("a b c", "b c d"))
    assert(s.getLong(1) == TextHash.simhash(Array("a", "b", "c")))
    // dedup / fingerprint / quantize queries end-to-end interpreted
    assert(SparkEntry.queries("q31_minhash_bands")(spark, dir).count() > 0)
    assert(SparkEntry.queries("q81_minhash_est")(spark, dir).count() > 0)
    assert(SparkEntry.queries("q38_fingerprint")(spark, dir).count() > 0)
    assert(SparkEntry.queries("q59_vector_quantize")(spark, dir).count() > 0)
  }
}
