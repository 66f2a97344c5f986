package graft.perfbench

import java.net.InetSocketAddress

import com.sun.net.httpserver.HttpServer

/** In-process, single-threaded HTTP server on the loopback interface that
  * serves generated bytes — the fetch stage's remote source, with no
  * network beyond localhost.
  */
final class LoopbackStub {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val bodies =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()

  server.createContext("/", ex => {
    val body = bodies.get(ex.getRequestURI.getPath)
    try {
      if (body == null) ex.sendResponseHeaders(404, -1)
      else {
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
      }
    } finally ex.close()
  })
  // No executor: exchanges run on the server's one dispatcher thread.
  server.start()

  def serve(path: String, body: Array[Byte]): Unit = bodies.put(path, body)

  def url(path: String): String =
    s"http://127.0.0.1:${server.getAddress.getPort}$path"

  def stop(): Unit = server.stop(0)
}
