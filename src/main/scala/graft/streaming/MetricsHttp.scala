package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.{InetAddress, InetSocketAddress}

/** The `/metrics` scrape endpoint — the engine analog of the reference
  * serving its prometheus registry over warp (main.rs: `/metrics` route,
  * prometheus.rs: text-format encode). Uses the JDK-builtin HttpServer
  * (no extra dependency); the text body is [[SyncMetrics.snapshot]], the
  * same counters the reference exports. Runs on the driver — counters
  * are O(#labels) driver-side state, so the scrape never touches
  * executors. */
object MetricsHttp {

  /** Start serving `/metrics` on `port` (0 = ephemeral; read the bound
    * port from `server.getAddress.getPort`). Binds LOOPBACK by default —
    * the registry is driver-global, and a wildcard bind would expose it
    * on every interface; pass an explicit `addr` (e.g. a pod IP) when a
    * cluster scraper needs to reach it. */
  def start(port: Int = 0,
      addr: InetAddress = InetAddress.getLoopbackAddress): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(addr, port), 0)
    server.createContext("/metrics", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val body = (SyncMetrics.snapshot() + "\n").getBytes("UTF-8")
        x.getResponseHeaders.add("Content-Type",
          "text/plain; version=0.0.4; charset=utf-8")
        x.sendResponseHeaders(200, body.length.toLong)
        val os = x.getResponseBody
        try os.write(body) finally os.close()
      }
    })
    server.start()
    server
  }
}
