package graft.util

import graft.SparkSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Pin.pinned's choice of frames to cache, and Pin.primeShared — the
  * utilization dispatch for multi-consumer persisted frames (prime when
  * the cluster is saturated, race when idle; round-15 VERDICT item 6).
  * Both dispatch branches are pinned here: default/false runs NO job and
  * leaves the cache cold; true materializes every cached partition
  * before returning. */
class PinSpec extends SparkSuite {
  import spark.implicits._

  // the dispatch gate is proven with a frame that THROWS on
  // evaluation: the default (race) path must return WITHOUT touching
  // it, the primed path must evaluate it. Evaluation-observable and
  // immune to the shared session's parallel-suite cache traffic.
  // spark.range, not a LocalRelation: ConvertToLocalRelation would
  // pre-evaluate a projection over local rows AT PLAN TIME (inside
  // persist's cacheQuery) and detonate the bomb before the call under
  // test
  private def bomb() = spark.range(10)
    .select(expr("assert_true(id > 100)").as("b"))
    .persist(StorageLevel.MEMORY_AND_DISK)

  test("pinned caches a computed frame for the body only, and never a " +
    "local relation") {
    val local = spark.createDataFrame(
      java.util.Arrays.asList(Row(1), Row(2)), StructType.fromDDL("x INT"))
    val computed = spark.range(0, 7919, 1, 3).toDF("pin_probe")
    Pin.pinned(local, computed) {
      assert(local.storageLevel == StorageLevel.NONE)
      assert(computed.storageLevel == StorageLevel.MEMORY_AND_DISK)
    }
    assert(computed.storageLevel == StorageLevel.NONE)
  }

  test("default (race): primeShared is a no-op — no evaluation runs") {
    spark.conf.unset(Pin.PrimeSharedKey)
    val d = bomb()
    val r = Pin.primeShared(d) // must NOT evaluate (would throw)
    assert(r eq d)
    d.unpersist(true)
  }

  test("primed (saturated mode): primeShared materializes the frame") {
    spark.conf.set(Pin.PrimeSharedKey, "true")
    try {
      val d = bomb()
      val e = intercept[Exception](Pin.primeShared(d))
      assert(e.getMessage != null)
      d.unpersist(true)
    } finally spark.conf.unset(Pin.PrimeSharedKey)
  }

  test("pair listers produce identical results in both dispatch modes") {
    val docs = (1 to 60).map { i =>
      (i.toLong, if (i % 3 == 0) s"alpha beta gamma delta epsilon zeta doc$i"
                 else s"alpha beta gamma delta epsilon zeta shared tail")
    }.toDF("id", "text")
    def run(): Array[org.apache.spark.sql.Row] =
      graft.dedup.Dedup.ngramJaccardPairs(docs, "id", "text",
          shingleSize = 3, minJaccard = 0.5)
        .orderBy("id_a", "id_b").collect()
    spark.conf.unset(Pin.PrimeSharedKey)
    val raced = run()
    spark.conf.set(Pin.PrimeSharedKey, "true")
    try {
      val primed = run()
      assert(primed.toSeq === raced.toSeq)
      assert(raced.nonEmpty)
    } finally spark.conf.unset(Pin.PrimeSharedKey)
  }
}
