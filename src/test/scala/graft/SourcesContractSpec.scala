package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sources

/** Contract pins for the job's deploy-side config — the one §2 surface
  * the sandbox cannot execute (no broker, no spark-sql-kafka connector
  * jar, so even source RESOLUTION is env-blocked; no Postgres). What CAN
  * be checked without them is the exact values handed over, against the
  * reference configuration:
  *
  *  - consumer: StreamJob.java:36-51 — bootstrap "kafka:9093", topic
  *    "remittance-stream", SimpleStringSchema, two independent
  *    consumers, `setStartFromLatest()` (line 56);
  *  - JDBC sink: the env vars and defaults of StreamJob.java:177-179.
  *
  * A typo in any option KEY (e.g. `kafka.bootstrap.server`) would pass a
  * compile-only check and fail at first deployment — these pins are the
  * strongest broker-free gate for that failure class. */
class SourcesContractSpec extends AnyFunSuite {

  test("consumer option map matches the reference consumer config " +
      "(topic, latest offsets, kafka.-prefixed bootstrap passthrough)") {
    val opts = Sources.kafkaConsumerOptions("kafka:9093")
    // Spark's Kafka source requires the broker list under the
    // kafka.-prefixed passthrough key — a bare "bootstrap.servers" is
    // silently ignored and the query dies at start
    assert(opts("kafka.bootstrap.servers") == "kafka:9093")
    // the reference's single shared topic (StreamJob.java:41)
    assert(opts("subscribe") == "remittance-stream")
    // setStartFromLatest() ≡ startingOffsets=latest (StreamJob.java:56)
    assert(opts("startingOffsets") == "latest")
    // Spark manages offsets in the checkpoint and forbids two queries
    // sharing a consumer group — Flink's group.id=flink-group must NOT
    // be forwarded (S1/S2 are two queries on one topic)
    assert(!opts.keys.exists(_.toLowerCase.contains("group")))
    assert(opts.size == 3, s"unexpected extra options: $opts")
  }

  test("consumer map: overrides flow through verbatim (two independent " +
      "readers differ only where told to)") {
    val a = Sources.kafkaConsumerOptions("b:1", "t1", "earliest")
    assert(a == Map("kafka.bootstrap.servers" -> "b:1",
      "subscribe" -> "t1", "startingOffsets" -> "earliest"))
    // S1/S2: same call twice yields equal maps — reader independence
    // lives in Spark's per-query groups/checkpoints, not in the config
    assert(Sources.kafkaConsumerOptions("b:1") ==
      Sources.kafkaConsumerOptions("b:1"))
  }

  test("JdbcConfig.fromEnv: the reference's defaults, each overridden by" +
      " its env var") {
    // StreamJob.java:177-179
    val defaults = Sources.JdbcConfig.fromEnv(Map.empty)
    assert(defaults == Sources.JdbcConfig(
      "jdbc:postgresql://localhost:5432/postgres", "postgres", "postgres",
      "remittance_metrics"))
    Seq("METRICS_DB_URL" -> defaults.copy(url = "v"),
      "METRICS_DB_USER" -> defaults.copy(user = "v"),
      "METRICS_DB_PASSWORD" -> defaults.copy(password = "v")).foreach {
      case (k, want) => assert(Sources.JdbcConfig.fromEnv(Map(k -> "v")) == want, k)
    }
  }
}
