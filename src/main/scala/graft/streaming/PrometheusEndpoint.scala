package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** O2 (closing the scrape half) — the reference publishes its metrics to a
  * Prometheus scraper (`/root/reference/prometheus/prometheus.yaml:2-7`
  * scrapes the app; `MetricsService.java:33-63` then reads the 10 series
  * back via PromQL). [[MetricsReporter]] reproduces the series ids and
  * formatting; this endpoint completes the loop by exposing them at
  * `GET /metrics` in the Prometheus text exposition format (version
  * 0.0.4), so the reference's own `prometheus.yaml` — retargeted at this
  * port — scrapes the Spark job the same way it scraped the Flink job.
  *
  * Single-JVM by design: metrics aggregation already happens on the
  * driver (StreamingQueryProgress is a driver-side callback), so the
  * endpoint binds once per application, not per executor — the same
  * topology Prometheus expects from a Spark driver target. The JDK's
  * built-in HttpServer keeps it dependency-free.
  */
class PrometheusEndpoint(reporter: MetricsReporter, port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.createContext("/metrics", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val body = renderExposition.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type",
        "text/plain; version=0.0.4; charset=utf-8")
      ex.sendResponseHeaders(200, body.length.toLong)
      val os = ex.getResponseBody
      try os.write(body) finally os.close()
    }
  })
  server.setExecutor(null) // serve on the dispatcher thread; scrape is tiny

  def start(): Int = { server.start(); boundPort }
  def boundPort: Int = server.getAddress.getPort
  def stop(): Unit = server.stop(0)

  /** One sample per reporter series, `graft_`-prefixed (Prometheus metric
    * names admit `[a-zA-Z_:][a-zA-Z0-9_:]*`; every reporter id already
    * fits), with the series' help text and type. Values are the
    * series' display text, rounded as the reference's MetricsService
    * formats them. */
  private[streaming] def renderExposition: String =
    reporter.series.map { s =>
      val name = s"graft_${s.id}"
      s"# HELP $name ${s.help}\n# TYPE $name ${s.kind}\n$name ${s.text}\n"
    }.mkString
}
