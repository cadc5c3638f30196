package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Profile`'s per-query record on the smoke tier, and the start-up
  * check of Bench's calibration reference.
  */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("profile record: job/stage/task counts, per-job list, rows and hash") {
    // q_dedup_groups is a LazyFrame query that runs many jobs per action
    Seq("q_agg_pricing", "q_dedup_groups").foreach { q =>
      val r = Profile.profileAll(spark, Seq(q), sf, reps = 1).next()
      assert(r.cold.jobs >= 1 && r.cold.stages >= 1, s"$q: $r")
      assert(r.cold.tasks >= r.cold.stages, s"$q: $r")
      (r.cold +: r.warm).foreach(run => assert(run.perJob.size == run.jobs, s"$q: $run"))
      val df = SparkEntry.queries(q)(spark, sf)
      assert(r.rows == df.count())
      assert(Profile.contentHash(df.repartition(3)) == (r.rows, r.hash))
      Seq("\"cold_sec\":", "\"warm_sec\":[", "\"jobs\":", "\"stages\":", "\"tasks\":",
        "\"warm_jobs\":[", "\"rows\":", "\"hash\":", "\"calib_pre_sec\":",
        "\"calib_post_sec\":", "\"cpus\":4", "\"sf\":").foreach { k =>
        assert(r.json.contains(k), s"$k missing from ${r.json}")
      }
    }
  }

  test("content hash is order-insensitive over array and map columns") {
    // no driver query outputs an array or map column, so one is derived
    val base = SparkEntry.queries("q_agg_pricing")(spark, sf)
    val df = base
      .withColumn("arr", array(lit(1L), monotonically_increasing_id() % 5))
      .withColumn("m", map(lit("k"), col("arr")))
      .localCheckpoint()
    val h = Profile.contentHash(df)
    assert(h._1 == df.count() && h._1 > 0)
    assert(Profile.contentHash(df.repartition(3)) == h)
    assert(Profile.contentHash(base)._2 != h._2)
  }

  test("an unknown query name fails before any query runs") {
    val e = intercept[IllegalArgumentException] {
      Profile.profileAll(spark, Seq("q_agg_pricing", "q_no_such_query"), sf, reps = 1)
    }
    assert(e.getMessage.contains("q_no_such_query"))
  }

  test("SPARK_GRAFT_CALIB_REF must be a positive number") {
    assert(Bench.parseCalibRef(None) == 0.41)
    assert(Bench.parseCalibRef(Some(" 0.55 ")) == 0.55)
    Seq("fast", "", "NaN", "0", "-0.4", "Infinity").foreach { v =>
      val e = intercept[IllegalArgumentException](Bench.parseCalibRef(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CALIB_REF") && e.getMessage.contains(s"'$v'"))
    }
  }
}
