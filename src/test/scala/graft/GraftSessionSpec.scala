package graft

/** The one session builder and the one scoped conf override. */
class GraftSessionSpec extends SparkSpecBase {

  private val absent = "graft.spec.absent"
  private val present = "graft.spec.present"

  /** `body` with `present` set to "a" and `absent` unset, both cleared
    * after. */
  private def withKeys(body: => Unit): Unit = {
    spark.conf.unset(absent)
    spark.conf.set(present, "a")
    try body finally { spark.conf.unset(absent); spark.conf.unset(present) }
  }

  test("withConf unsets a key that was absent and restores one that " +
      "was set") {
    withKeys {
      GraftSession.withConf(spark, absent -> "x", present -> "b") {
        assert(spark.conf.getOption(absent).contains("x"))
        assert(spark.conf.get(present) == "b")
      }
      assert(spark.conf.getOption(absent).isEmpty)
      assert(spark.conf.get(present) == "a")
    }
  }

  test("withConf restores every key when the body throws") {
    withKeys {
      val e = intercept[IllegalStateException] {
        GraftSession.withConf(spark, absent -> "x", present -> "b") {
          throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage == "boom")
      assert(spark.conf.getOption(absent).isEmpty)
      assert(spark.conf.get(present) == "a")
    }
  }

  test("nested withConf scopes on one thread unwind in order") {
    withKeys {
      val seen = Seq.newBuilder[String]
      GraftSession.withConf(spark, present -> "b") {
        GraftSession.withConf(spark, present -> "c", absent -> "y") {
          seen += spark.conf.get(present) + spark.conf.get(absent)
        }
        seen += spark.conf.get(present) + spark.conf.getOption(absent)
      }
      seen += spark.conf.get(present) + spark.conf.getOption(absent)
      assert(seen.result() == Seq("cy", "bNone", "aNone"))
    }
  }

  test("a withConf scope on another thread waits for the open one") {
    withKeys {
      val entered = new java.util.concurrent.CountDownLatch(1)
      val other = new Thread(() =>
        GraftSession.withConf(spark, present -> "t")(entered.countDown()))
      GraftSession.withConf(spark, present -> "b") {
        other.start()
        assert(!entered.await(300, java.util.concurrent.TimeUnit.MILLISECONDS),
          "a second thread entered while a scope was open")
        assert(spark.conf.get(present) == "b")
      }
      assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
      other.join()
      assert(spark.conf.get(present) == "a")
    }
  }

  test("the shared spec session is a GraftSession: UTC, 4 shuffle " +
      "partitions, a warehouse under this JVM's scratch root, the " +
      "planner rules installed") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    assert(warehouse.startsWith(sources.IngestOps.scratchRoot + "/"),
      s"warehouse $warehouse is outside ${sources.IngestOps.scratchRoot}")
    assert(spark.experimental.extraOptimizations
      .contains(plans.SmallSortRule))
  }
}
