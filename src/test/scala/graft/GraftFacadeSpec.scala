package graft

import java.nio.file.{Files, Paths}

class GraftFacadeSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("registerViews exposes all tables to spark.sql") {
    Graft.registerViews(spark, dir)
    val n = spark.sql(
      """SELECT c_mktsegment, COUNT(*) AS cnt
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin).count()
    assert(n == 5)
    assert(spark.sql("SELECT ts_us FROM events LIMIT 1").count() == 1)
  }

  test("query() dispatches registry entries and rejects unknown names") {
    assert(Graft.query(spark, dir, "q02_agg_pricing").count() == 6)
    val e = intercept[IllegalArgumentException](Graft.query(spark, dir, "nope"))
    assert(e.getMessage.contains("unknown query"))
  }

  test("operator and SQL-function passthroughs work through the facade") {
    import spark.implicits._
    val probes = Seq((1, 5L, "p1")).toDF("k", "t", "id")
    val builds = Seq((1, 3L, 30.0)).toDF("k", "t", "px")
    val asof = Graft.asofJoin(probes, builds, Seq("k"), "t", "t").collect()
    assert(asof.head.getAs[Double]("px") == 30.0)

    val l = Seq((1, "a"), (1, "b")).toDF("k", "lv")
    val r = Seq((1, 10)).toDF("k", "rv")
    assert(Graft.saltedJoin(l, r, Seq("k"), 4).count() == 2)

    Graft.registerFunctions(spark)
    val cs = spark.sql(
      "SELECT graft_cosine_sim(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>), CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)) AS c")
      .collect().head.getDouble(0)
    assert(math.abs(cs - 1.0) < 1e-9)
  }

  test("imageSignatures/imageAdmission run on any (id, payload) raster frame") {
    import spark.implicits._
    import graft.queries.Multimodal
    def raster(fill: Int): Array[Byte] = {
      val hdr = "P6\n4 4\n255\n".getBytes("UTF-8")
      Multimodal.packPayload(hdr ++ Array.fill[Byte](48)(fill.toByte))
    }
    // custom column names + an int id — the facade renames and casts
    val store = Seq((1, raster(10)), (2, raster(200))).toDF("img", "bytes")
    val storeSigs = Graft.imageSignatures(store, id = "img", payload = "bytes")
    assert(storeSigs.columns.toSeq == Seq("doc_id", "bands"))
    val batch = Seq((7, raster(10)), (8, raster(99))).toDF("img", "bytes")
    val verdicts = Graft.imageAdmission(
      Graft.imageSignatures(batch, "img", "bytes"), storeSigs)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // constant rasters all hash to zero (strict-mean rule), so every batch
    // image collides with the store at Hamming 0 — both rejected
    assert(verdicts == Map(7L -> false, 8L -> false))
  }

  test("lmQualityScore scores any (id, text) frame against any training slice") {
    import spark.implicits._
    val train = Seq((1L, "the quick brown fox"), (2L, "the lazy dog")).toDF("doc_id", "text")
    val docs = Seq((10L, "the the the"), (11L, "zebra xylophone quux")).toDF("doc_id", "text")
    val out = Graft.lmQualityScore(docs, train).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(10L)._1 == 3L && out(11L)._1 == 3L)
    // in-vocabulary repetition must score far more likely than all-OOV text
    assert(out(10L)._2 < out(11L)._2)
  }

  test("lshRecallCertification reaches guarantee grade (ci95 <= 60 bp) on a planted corpus") {
    import spark.implicits._
    // the shipped gate corpora top out at 256 true pairs TOTAL (best
    // possible ci ~364 bp at any slice), so the <= 60 bp claim needs a
    // corpus whose within-slice true-pair count clears the power budget
    // (4000 pairs carries ci <= 60 bp for any recall >= 0.96, and ~8 bp
    // at the ~0.999 the banding actually delivers here): plant 4000
    // (base, near-copy) pairs — one word in ~40 changed, char-shingle
    // jaccard ~0.975, bases mutually dissimilar via a seeded open
    // vocabulary — and certify with the slice covering the corpus
    val rnd = new scala.util.Random(20260815)
    def word() = (1 to 6).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val docs = (0 until 4000).flatMap { i =>
      val base = (1 to 40).map(_ => word()).mkString(" ")
      val words = base.split(" ")
      val j = rnd.nextInt(words.length)
      val near = words.updated(j, word()).mkString(" ")
      Seq((2L * i, base), (2L * i + 1, near))
    }.toDF("doc_id", "text")
    val r = Graft.lshRecallCertification(docs, sliceDocs = 8000).collect()(0)
    val (nTrue, recallBp, ciBp) = (r.getLong(0), r.getLong(3), r.getLong(4))
    assert(nTrue >= 3900, s"planted corpus must clear the power budget, got $nTrue true pairs")
    assert(recallBp >= 9600, s"banding recall collapsed: $recallBp bp")
    assert(ciBp <= 60, s"guarantee-grade CI not reached: +/-$ciBp bp at n_true=$nTrue")
  }

  test("copy() end-to-end through the facade") {
    val base = Paths.get("target/fixtures", "facade-" + System.nanoTime()).toAbsolutePath
    val src = base.resolve("src")
    Files.createDirectories(src)
    Files.write(src.resolve("x.txt"), "facade".getBytes)
    val cfg = Graft.parseArgs(Seq(src.toString, base.resolve("out").toString)).toOption.get
    val stats = Graft.copy(spark, cfg)
    assert(stats.copied == 1)
    assert(Files.readAllBytes(base.resolve("out/x.txt")).sameElements("facade".getBytes))
  }

  test("plan, inspect, execute through the facade") {
    val base = Paths.get("target/fixtures", "facade-plan-" + System.nanoTime()).toAbsolutePath
    val src = base.resolve("src")
    Files.createDirectories(src)
    Files.write(src.resolve("x.txt"), "facade".getBytes)
    val cfg = Graft.parseArgs(Seq("-update", "-pt", src.toString, base.resolve("out").toString)).toOption.get
    val plan = Graft.plan(spark, cfg)
    assert(plan.hasFileCopied)
    assert(plan.sourceFilesForTransfer.map(_.split('/').last) == Seq("x.txt"))
    assert(Graft.execute(spark, plan, cfg).copied == 1)
    assert(!Graft.plan(spark, cfg).hasFileCopied) // the destination is up to date now
  }
}
