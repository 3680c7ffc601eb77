package graft.iq

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Minimal HTTP façade over materialized state — the full `ring.clj`
  * surface (`handler` routing + HTTP serving, `ring.clj:20-53`) on the JDK
  * http server (no extra dependencies). Routes:
  *
  *   GET /store/{name}[?limit=N]    → rows of the store, JSON array
  *                                     (default cap 1000; a full-store GET
  *                                     on a large materialization must not
  *                                     collect unbounded rows to the driver)
  *   GET /store/{name}/{col}/{key}[?limit=N] → point lookup, JSON array
  *
  * Both routes read a running query's memory sink on the driver, with no
  * Spark job per request; every other store answers through Spark SQL
  * (see [[InteractiveQueries.lookup]]). Bodies are the same either way.
  *
  * Single-driver Spark owns all state, so the reference's shard-owner
  * forwarding collapses to local serving; multi-driver deployments plug
  * their routing into [[InteractiveQueries.handler]].
  */
object HttpStateServer {

  /** Minimal JSON string escaper for error bodies (quotes, backslashes,
    * control chars) — exception messages interpolate URL-controlled names.
    */
  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Start on `port` (0 = ephemeral); returns the server and bound port.
    * Binds loopback by default — the server exposes every Spark table/temp
    * view unauthenticated; front it with your own auth to serve remotely.
    */
  def start(spark: SparkSession, port: Int = 0,
            bindAddress: String = "127.0.0.1"): (HttpServer, Int) = {
    val server = HttpServer.create(new InetSocketAddress(bindAddress, port), 0)
    server.createContext("/store", (exchange: HttpExchange) => {
      val response =
        try {
          val parts = exchange.getRequestURI.getPath
            .stripPrefix("/store").stripPrefix("/").split("/").filter(_.nonEmpty)
          val df = parts match {
            case Array(name) => InteractiveQueries.store(spark, name)
            case Array(name, keyCol, key) =>
              InteractiveQueries.store(spark, name).where(col(keyCol) === key)
            case _ => throw new IllegalArgumentException(
              "use /store/{name} or /store/{name}/{col}/{key}")
          }
          // Bounded collect: ?limit=N (default 1000) caps the rows any
          // route ships to the driver — a full-store GET on a large
          // materialization was an unbounded toJSON.collect().
          val limit = Option(exchange.getRequestURI.getQuery)
            .flatMap(_.split("&").collectFirst {
              case p if p.startsWith("limit=") =>
                p.stripPrefix("limit=").toInt
            })
            .getOrElse(1000)
          require(limit > 0, s"limit must be positive, got $limit")
          (200, InteractiveQueries.json(df, limit).mkString("[", ",", "]"))
        } catch {
          case e: Exception =>
            (404, s"""{"error":"${jsonEscape(String.valueOf(e.getMessage))}"}""")
        }
      val bytes = response._2.getBytes("UTF-8")
      exchange.getResponseHeaders.set("Content-Type", "application/json")
      exchange.sendResponseHeaders(response._1, bytes.length)
      val os = exchange.getResponseBody
      os.write(bytes)
      os.close()
    })
    server.start()
    (server, server.getAddress.getPort)
  }
}
