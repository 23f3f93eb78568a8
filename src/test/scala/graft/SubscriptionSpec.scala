package graft

import java.sql.Timestamp
import graft.serve.SubscriptionStore
import graft.serve.SubscriptionStore._

class SubscriptionSpec extends SparkSpec {
  import spark.implicits._

  private def sub(address: String, auth: String, endpoint: String, active: Boolean = true) =
    Seq((address, s"k-$auth", auth, endpoint, Timestamp.valueOf("2026-01-01 00:00:00"),
      "10.0.0.1", "ua", active))
      .toDF("address", "p256dh", "auth", "endpoint", "expiration", "ip", "user_agent", "active")

  test("subscription lifecycle: upsert, reads, endpoint and device deactivation") {
    val empty = load(spark, tempDir("graft_subs").toString + "/none")
    assert(empty.isEmpty && empty.columns.toSeq == schema)

    var subs = upsert(upsert(empty, sub("addr1", "authA", "ep1")), sub("addr2", "authB", "ep2"))
    assert(subs.count() == 2)
    assert(SubscriptionStore.exists(subs, "addr1", "authA") && !SubscriptionStore.exists(subs, "addr1", "authB"))
    assert(activeByAddress(subs, "addr2").select("endpoint").head().getString(0) == "ep2")

    // dead endpoint: deactivated, not deleted (history survives for get_one)
    subs = deactivateByEndpoint(subs, "ep2")
    assert(activeByAddress(subs, "addr2").isEmpty)
    assert(SubscriptionStore.exists(subs, "addr2", "authB"))

    // device authA re-registers under addr3: its addr1 row goes silent
    subs = deactivateByAuthAndNeAddress(upsert(subs, sub("addr3", "authA", "ep3")),
      "addr3", "authA")
    assert(activeByAddress(subs, "addr1").isEmpty)
    assert(activeByAddress(subs, "addr3").count() == 1)

    // re-subscribe refreshes the row and reactivates it
    subs = upsert(subs, sub("addr1", "authA", "ep1-new"))
    val r = activeByAddress(subs, "addr1").select("endpoint").head().getString(0)
    assert(r == "ep1-new")
    assert(subs.count() == 3, "upsert must replace, not append, on key match")
  }

  test("registry persists through versioned snapshots") {
    val path = tempDir("graft_subs_p").toString + "/subs"
    val s0 = upsert(load(spark, path), sub("addr1", "authA", "ep1"))
    save(spark, path, s0)
    val reloaded = load(spark, path)
    assert(reloaded.count() == 1)
    // a mutation persisted as a new snapshot is what the next reader sees
    save(spark, path, deactivateByEndpoint(reloaded, "ep1"))
    assert(activeByAddress(load(spark, path), "addr1").isEmpty)
  }
}
