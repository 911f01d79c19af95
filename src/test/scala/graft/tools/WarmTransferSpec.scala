package graft.tools

import org.apache.spark.sql.functions.broadcast

import graft.SparkSpec

/** `WarmTransfer.planSignature` names plan nodes whole: a broadcast join's
  * `BroadcastExchange` is not also a shuffle `Exchange`. */
class WarmTransferSpec extends SparkSpec {

  private def count(sig: String, node: String): Int =
    sig.split(" ").collectFirst { case kv if kv.startsWith(node + "=") =>
      kv.stripPrefix(node + "=").toInt }.getOrElse(0)

  test("a broadcast-join plan and a shuffle-join plan give different Exchange counts") {
    // computed keys: no scan-side partitioning a join could reuse
    val left = spark.range(1000).selectExpr("id % 97 AS k")
    val right = spark.range(1000).selectExpr("id % 89 AS k")
    val bcast = left.join(broadcast(right), "k")
    bcast.collect()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val shuffleSig =
      try {
        spark.conf.set(key, "-1")
        val shuffled = left.join(right, "k")
        shuffled.collect()
        WarmTransfer.planSignature(shuffled)
      } finally spark.conf.set(key, prev)
    val bcastSig = WarmTransfer.planSignature(bcast)

    assert(count(bcastSig, "BroadcastExchange") == 1, bcastSig)
    assert(count(bcastSig, "Exchange") == 0, bcastSig)
    assert(count(shuffleSig, "Exchange") == 2, shuffleSig)
    assert(count(shuffleSig, "BroadcastExchange") == 0, shuffleSig)
  }
}
