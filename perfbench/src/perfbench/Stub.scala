package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.io.{BufferedOutputStream, IOException}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** One watch line the stub can serve: the object's resourceVersion, its
  * watch type, and the object JSON. `inList` marks lines a LIST returns
  * (current objects; stale re-deliveries and deletes are watch-only). */
final case class Line(rv: Long, kind: String, obj: String, inList: Boolean)

/** Stub Kubernetes API server for one collection (`/api/v1/<resource>`).
  *
  * LIST returns every published `inList` object with the highest
  * published rv; WATCH is a long-lived chunked stream of every line
  * published after the requested rv, written as soon as it is published
  * (the way an API server streams), until the client disconnects or the
  * stub stops. Lines are published only by [[publish]], so the load
  * generator alone decides when data exists. Two handler threads: one
  * held by the open watch, one for LIST and reconnects.
  */
final class StubApiServer(resource: String, capacity: Int) {
  private val lines = new Array[Line](capacity)
  private val watchBytes = new Array[Array[Byte]](capacity)
  // prefixMaxRv(i) = max rv of lines(0..i): lets a WATCH at rv R start at
  // the first line that can carry news, even when stale lines repeat old rvs.
  private val prefixMaxRv = new Array[Long](capacity)
  @volatile private var published = 0
  @volatile private var running = true
  private val signal = new Object

  val watchRequests = new AtomicLong
  val listRequests = new AtomicLong
  val bytesServed = new AtomicLong

  private val pool = Executors.newFixedThreadPool(2, r => {
    val t = new Thread(r, s"stub-$resource"); t.setDaemon(true); t
  })
  private val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 16)
  srv.setExecutor(pool)
  srv.createContext(s"/api/v1/$resource", (ex: HttpExchange) => handle(ex))
  srv.start()

  def url: String = s"http://127.0.0.1:${srv.getAddress.getPort}"
  def publishedCount: Int = published
  def maxPublishedRv: Long = { val p = published; if (p == 0) 0L else prefixMaxRv(p - 1) }

  /** Appends `batch` (called from the single generator thread only). */
  def publish(batch: Iterator[Line]): Unit = {
    var p = published
    batch.foreach { l =>
      lines(p) = l
      watchBytes(p) = s"""{"type":"${l.kind}","object":${l.obj}}\n""".getBytes(UTF_8)
      prefixMaxRv(p) = if (p == 0) l.rv else math.max(prefixMaxRv(p - 1), l.rv)
      p += 1
    }
    published = p
    signal.synchronized(signal.notifyAll())
  }

  private def firstAfter(rv: Long, upTo: Int): Int = {
    var lo = 0; var hi = upTo
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (prefixMaxRv(mid) > rv) hi = mid else lo = mid + 1
    }
    lo
  }

  private def handle(ex: HttpExchange): Unit = {
    val query = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val params = query.split("&").filter(_.contains("=")).map { kv =>
      val i = kv.indexOf('='); kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap
    try {
      if (params.get("watch").contains("true")) {
        watchRequests.incrementAndGet()
        val from = params.get("resourceVersion").flatMap(_.toLongOption).getOrElse(0L)
        ex.sendResponseHeaders(200, 0) // chunked
        val out = new BufferedOutputStream(ex.getResponseBody, 1 << 16)
        var cursor = firstAfter(from, published)
        while (running) {
          val p = published
          if (cursor < p) {
            var n = 0L
            while (cursor < p) {
              out.write(watchBytes(cursor)); n += watchBytes(cursor).length
              cursor += 1
            }
            out.flush()
            bytesServed.addAndGet(n)
          } else signal.synchronized {
            if (published == cursor && running) signal.wait(20)
          }
        }
      } else {
        listRequests.incrementAndGet()
        val p = published
        val items = (0 until p).iterator.filter(i => lines(i).inList)
          .map(i => lines(i).obj).mkString(",")
        val maxRv = if (p == 0) 0L else prefixMaxRv(p - 1)
        val body = s"""{"kind":"List","metadata":{"resourceVersion":"$maxRv"},"items":[$items]}"""
          .getBytes(UTF_8)
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        bytesServed.addAndGet(body.length)
      }
    } catch {
      case _: IOException | _: InterruptedException => () // client went away
    } finally ex.close()
  }

  def stop(): Unit = {
    running = false
    signal.synchronized(signal.notifyAll())
    srv.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(5, TimeUnit.SECONDS)
  }
}
