package graft.loaders

import graft.SparkSpec

/** The co-located-join property, proven on the physical plan: joining
  * two tables bucketed by the same key into the same bucket count must
  * not shuffle either side. */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("co-bucketed tables join without any shuffle exchange") {
    // disable broadcast so the join would normally be a shuffle join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val facts = (1 to 5000).map(i => (i.toLong % 97, i.toLong, i * 1.0))
        .toDF("key", "id", "v")
      val dims = (0L until 97L).map(k => (k, s"attr_$k")).toDF("key", "attr")
      Bucketing.writeBucketed(facts, "b_facts", "key", 8)
      Bucketing.writeBucketed(dims, "b_dims", "key", 8)

      val joined = Bucketing.readBucketed(spark, "b_facts")
        .join(Bucketing.readBucketed(spark, "b_dims"), Seq("key"))
      val plan = joined.queryExecution.executedPlan.toString

      assert(!plan.contains("Exchange"), s"co-bucketed join must not shuffle:\n$plan")
      // and it is still correct
      assert(joined.count() === 5000)
      val sample = joined.filter($"id" === 100L).select("attr").as[String].head()
      assert(sample === "attr_3") // 100 % 97 = 3
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_facts")
      spark.sql("DROP TABLE IF EXISTS b_dims")
    }
  }

  test("a non-bucketed copy of the same join DOES shuffle (the baseline the buckets remove)") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val facts = (1 to 2000).map(i => (i.toLong % 97, i.toLong)).toDF("key", "id")
      val dims = (0L until 97L).map(k => (k, s"a_$k")).toDF("key", "attr")
      val plan = facts.join(dims, Seq("key")).queryExecution.executedPlan.toString
      assert(plan.contains("Exchange"), plan)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
