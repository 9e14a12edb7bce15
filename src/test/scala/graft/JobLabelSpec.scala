package graft

import org.apache.spark.sql.functions._

/** Job labels are scoped: an operator that labels its own jobs hands the
  * caller's label back on every exit path.
  */
class JobLabelSpec extends SparkSpec {
  private def label = spark.sparkContext.getLocalProperty("spark.job.description")

  private def asCaller(body: => Unit): Unit = {
    spark.sparkContext.setJobDescription("caller")
    try { body; assert(label == "caller") }
    finally spark.sparkContext.setJobDescription(null)
  }

  test("withLabel restores the caller's label after a body that throws") {
    asCaller {
      intercept[IllegalStateException] {
        GraftSession.withLabel(spark.sparkContext, "inner") {
          assert(label == "inner")
          throw new IllegalStateException("boom")
        }
      }
    }
  }

  test("a caller's label survives connectedComponents") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    asCaller {
      val comps = operators.Dedup.connectedComponents(pairs).collect()
      assert(comps.map(_.getLong(1)).distinct.length == 2)
    }
    // a chain longer than maxIter rounds can span throws mid-loop
    val chain = (1L to 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    asCaller {
      intercept[IllegalStateException](
        operators.Dedup.connectedComponents(chain, maxIter = 1).collect())
    }
  }

  test("a caller's label survives prepareMetered") {
    import spark.implicits._
    val docs = (1 to 6).map(i => (i.toLong, s"document $i speaks of topic $i at some length " * 4))
      .toDF("doc_id", "text")
    asCaller {
      val prep = pipeline.TrainingPipeline.prepareMetered(docs,
        pipeline.TrainingPipeline.Config(meterStages = true))
      assert(prep.meters.nonEmpty)
      prep.corpus.select(col("split")).collect()
    }
  }
}
