package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.natives.cosineSim
import graft.operators.Similarity
import graft.serve.AnnIndex

/** The one top-k primitive, [[Similarity.topKPerQuery]], against the two
  * forms it replaced in the IVF and IVF-PQ kernels and in the persisted
  * index's searches: dedup then `row_number()`, by (query, neighbor) pair
  * in the cosine forms and by (query, neighbor, score) triple in the PQ
  * forms. The replaced forms live here only, as references.
  */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  private def rowNumberTopK(deduped: DataFrame, scoreCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreCol).desc, col("neighbor_id").asc)
    deduped.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }
  private def byPair(scored: DataFrame, scoreCol: String, k: Int) =
    rowNumberTopK(scored.dropDuplicates("query_id", "neighbor_id"), scoreCol, k)
  private def byTriple(scored: DataFrame, scoreCol: String, k: Int) =
    rowNumberTopK(scored.select(col("query_id"), col("neighbor_id"), col(scoreCol)).distinct(),
      scoreCol, k)

  private def rows(df: DataFrame): Seq[(Long, Int, Long)] =
    df.as[(Long, Int, Long)].collect().toSeq.sorted

  /** `body` with generated expression code, then interpreted throughout. */
  private def underBothFactoryModes(body: => Unit): Unit =
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try withClue(s"factoryMode=$mode: ")(body)
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }

  test("top-k equals dedup + row_number on generated candidate sets") {
    // a small score palette forces ties (broken by neighbor id), NaN and a
    // signed zero; a pair's copies carry its score, or 0.0 against -0.0
    val palette = Seq(1.0, 0.5, 0.5, 0.25, 0.0, -0.0, Double.NaN, -0.5)
    val rng = new scala.util.Random(20261020L)
    val cases = (1 to 40).map { _ =>
      val scored = (1 to rng.nextInt(5)).flatMap { q =>
        rng.shuffle((1 to 10).toList).take(rng.nextInt(9)).flatMap { n =>
          val s = palette(rng.nextInt(palette.size))
          val copies = if (rng.nextInt(3) == 0) 1 + rng.nextInt(2) else 0
          (q.toLong, n.toLong, s) +: Seq.fill(copies)(
            (q.toLong, n.toLong, if (s == 0.0 && rng.nextBoolean()) -s else s))
        }
      }
      (scored, 1 + rng.nextInt(10))
    }
    assert(cases.exists(_._1.isEmpty), "generate an empty candidate set")
    assert(cases.exists { case (s, k) => s.nonEmpty && k > s.map(_._2).distinct.size },
      "generate a k beyond the candidates")
    underBothFactoryModes {
      cases.foreach { case (scored, k) =>
        val df = scored.toDF("query_id", "neighbor_id", "score").repartition(3)
        val got = rows(Similarity.topKPerQuery(df, "score", k))
        assert(got == rows(byTriple(df, "score", k)), s"k=$k over $scored")
        assert(got == rows(byPair(df, "score", k)), s"k=$k over $scored")
      }
    }
  }

  test("index search equals the replaced form with a pair in two segments and NaN scores") {
    val rng = new scala.util.Random(7L)
    def vec(): Seq[Float] = Seq.fill(8)(rng.nextGaussian().toFloat)
    // id 0 is a zero vector, whose cosine with anything is 0.0 (a tie
    // across all its pairs); id 1 holds a NaN, whose cosine is NaN
    val corpus = (Seq((0L, Seq.fill(8)(0f)), (1L, Float.NaN +: vec().tail)) ++
        (2L to 40L).map(i => (i, vec())))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 5 === 0)
    val root = tempDir("graft_topk_idx").toString
    AnnIndex.build(spark, root, corpus, "vec_id", "embedding", nCells = 3)
    // re-append indexed ids: their (query, neighbor) pairs come twice
    AnnIndex.append(spark, root, corpus.filter(col("vec_id") % 4 === 1), "vec_id", "embedding")
    val q = Similarity.ivfAssignWith(queries, "embedding", col("vec_id").as("query_id"),
        2, AnnIndex.readCodebook(spark, root))
      .withColumnRenamed("__e", "__qe")
    val scored = q.join(AnnIndex.readAssignments(spark, root), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .join(corpus.select(col("vec_id").as("id"), col("embedding").as("__ce")), Seq("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosineSim(col("__qe"), col("__ce")).as("cs"))
    assert(scored.groupBy("query_id", "neighbor_id").count().filter(col("count") > 1)
      .count() > 0, "vacuous fixture: no pair comes twice")
    assert(scored.filter(isnan(col("cs"))).count() > 0, "vacuous fixture: no NaN score")
    assert(scored.filter(col("cs") === 0.0).count() > 1, "vacuous fixture: no tied zero")
    underBothFactoryModes {
      for (k <- Seq(1, 5, 50)) {
        val served = rows(AnnIndex.search(spark, root, corpus, queries,
          "vec_id", "vec_id", "embedding", k, nProbe = 2))
        assert(served.nonEmpty && served == rows(byPair(scored, "cs", k)), s"k=$k")
      }
    }
  }
}
