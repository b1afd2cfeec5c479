package graftbench

import java.io.{BufferedInputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer

/** The open-loop tweet generator, run as its own process:
  *
  * `PostGen <port> <seed> <t0Ms> <rate> <count> <connections> <out>`
  *
  * Tweet `i` is due at `t0Ms + i * 1000 / rate` whether or not earlier
  * POSTs have returned. Up to `connections` keep-alive HTTP/1.1
  * connections each take the next due tweet when free, so a stalled
  * server makes later tweets late instead of slowing the offered rate.
  * One line per tweet goes to `out`: index, due, send start, response
  * end (epoch ms) and HTTP status (-1 when the connection failed). */
object PostGen {

  final case class Post(i: Int, due: Long, start: Double, end: Double, status: Int)

  def dueMs(t0: Long, rate: Int, i: Int): Long = t0 + i.toLong * 1000L / rate

  /** Starts the generator as a child JVM on this JVM's classpath. */
  def start(args: Seq[Any]): Process = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(java, "-Xmx128m", "-cp", System.getProperty("java.class.path"),
      "graftbench.PostGen") ++ args.map(_.toString)
    new ProcessBuilder(cmd: _*)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
  }

  def main(args: Array[String]): Unit = {
    val Array(port, seed, t0, rate, count, conns, out) = args
    val gen = new TweetGen(seed.toLong)
    val next = new AtomicInteger(0)
    val results = new Array[Post](count.toInt)
    val workers = (0 until conns.toInt).map { _ =>
      val t = new Thread(() => {
        var conn: Conn = null
        var i = next.getAndIncrement()
        while (i < count.toInt) {
          val due = dueMs(t0.toLong, rate.toInt, i)
          val wait = due - Clock.nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          val body = gen.tweet(i, due).json.getBytes(StandardCharsets.UTF_8)
          val start = Clock.nowMs
          val status =
            try {
              if (conn == null) conn = new Conn(port.toInt)
              conn.post(body)
            } catch {
              case _: java.io.IOException =>
                if (conn != null) conn.close()
                conn = null
                -1
            }
          results(i) = Post(i, due, start, Clock.nowMs, status)
          i = next.getAndIncrement()
        }
        if (conn != null) conn.close()
      }, "postgen")
      t.start()
      t
    }
    workers.foreach(_.join())
    val lines = results.map(p => s"${p.i}\t${p.due}\t${p.start}\t${p.end}\t${p.status}")
    Files.write(Paths.get(out), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  def read(path: java.nio.file.Path): Seq[Post] =
    Files.readAllLines(path).toArray(Array.empty[String]).toSeq.filter(_.nonEmpty).map { l =>
      val f = l.split('\t')
      Post(f(0).toInt, f(1).toLong, f(2).toDouble, f(3).toDouble, f(4).toInt)
    }

  /** One keep-alive connection. The request goes out in a single write;
    * the response is read to the end of its declared body. */
  final class Conn(port: Int) {
    private val sock = new Socket()
    sock.connect(new InetSocketAddress("localhost", port), 5000)
    sock.setSoTimeout(30000)
    private val in: InputStream = new BufferedInputStream(sock.getInputStream)
    private val out: OutputStream = sock.getOutputStream

    def post(body: Array[Byte]): Int = {
      val head = s"POST /tweets HTTP/1.1\r\nHost: localhost:$port\r\n" +
        s"Content-Type: application/json\r\nContent-Length: ${body.length}\r\n\r\n"
      out.write(head.getBytes(StandardCharsets.US_ASCII) ++ body)
      out.flush()
      val status = line().split(' ')(1).toInt
      var length = 0
      var h = line()
      while (h.nonEmpty) {
        val c = h.indexOf(':')
        if (c > 0 && h.substring(0, c).trim.equalsIgnoreCase("content-length"))
          length = h.substring(c + 1).trim.toInt
        h = line()
      }
      in.readNBytes(length)
      status
    }

    private def line(): String = {
      val b = new ArrayBuffer[Byte]
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new java.io.EOFException("connection closed")
        if (c != '\r') b += c.toByte
        c = in.read()
      }
      new String(b.toArray, StandardCharsets.US_ASCII)
    }

    def close(): Unit = sock.close()
  }
}
