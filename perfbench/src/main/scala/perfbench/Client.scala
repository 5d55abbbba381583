package perfbench

import java.io.{ByteArrayInputStream, DataInputStream, DataOutputStream, EOFException, InputStream}
import java.net.{HttpURLConnection, URI}

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, Float8Vector, ValueVector}
import org.apache.arrow.vector.ipc.ArrowStreamReader

/** Minimal HTTP client for the service's routes, speaking the server's
  * framing: each Arrow IPC batch is preceded by its 4-byte big-endian
  * length, and the body ends at EOF.
  */
final class Client(port: Int, clientId: String, password: String) {
  import Client.Reply

  private def open(method: String, path: String): HttpURLConnection = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setRequestProperty("X-Graft-Client", clientId)
    c.setRequestProperty("X-Graft-Password", password)
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    c
  }

  private def body(c: HttpURLConnection): InputStream =
    if (c.getResponseCode >= 400) c.getErrorStream else c.getInputStream

  /** PUT framed batches; returns (status, request body bytes). */
  def put(filename: String, batches: Array[Array[Byte]]): (Int, Long) = {
    val c = open("PUT", s"/files/$filename")
    val total = batches.map(_.length.toLong + 4).sum
    c.setDoOutput(true)
    c.setFixedLengthStreamingMode(total)
    val out = new DataOutputStream(c.getOutputStream)
    batches.foreach { b => out.writeInt(b.length); out.write(b) }
    out.close()
    val code = c.getResponseCode
    Option(body(c)).foreach(in => try in.readAllBytes() finally in.close())
    (code, total)
  }

  /** GET a framed route and drain the whole stream. */
  def get(path: String): Reply = {
    val c = open("GET", path)
    val code = c.getResponseCode
    val in = body(c)
    if (in == null) return Reply(code, Array.empty, 0L)
    try {
      if (code != 200) {
        val n = in.readAllBytes().length
        Reply(code, Array.empty, n.toLong)
      } else {
        val din = new DataInputStream(in)
        val frames = Array.newBuilder[Array[Byte]]
        var bytes = 0L
        var more = true
        while (more) {
          val len = try din.readInt() catch { case _: EOFException => -1 }
          if (len < 0) more = false
          else {
            val buf = new Array[Byte](len)
            din.readFully(buf)
            frames += buf
            bytes += len + 4
          }
        }
        Reply(code, frames.result(), bytes)
      }
    } finally in.close()
  }
}

object Client {
  final case class Reply(code: Int, frames: Array[Array[Byte]], bytes: Long)
}

/** Client-side reading of the Arrow frames a GET returned: row count, the
  * sum of one numeric column, and the values of one string column in
  * stream order.
  */
object Frames {
  private lazy val alloc = new RootAllocator(Long.MaxValue)

  final case class Summary(rows: Long, sums: Map[String, Double],
                           keys: Vector[String])

  def summarize(frames: Array[Array[Byte]], sumCols: Seq[String],
                keyCol: String): Summary = {
    var rows = 0L
    val sums = scala.collection.mutable.Map(sumCols.map(_ -> 0.0): _*)
    val keys = Vector.newBuilder[String]
    frames.foreach { f =>
      val reader = new ArrowStreamReader(new ByteArrayInputStream(f), alloc)
      try {
        while (reader.loadNextBatch()) {
          val root = reader.getVectorSchemaRoot
          val n = root.getRowCount
          rows += n
          sumCols.foreach { c =>
            val v: ValueVector = root.getVector(c)
            var i = 0
            while (i < n) {
              if (!v.isNull(i)) sums(c) += (v match {
                case d: Float8Vector => d.get(i)
                case b: BigIntVector => b.get(i).toDouble
                case other => other.getObject(i).toString.toDouble
              })
              i += 1
            }
          }
          val kv = root.getVector(keyCol)
          var i = 0
          while (i < n) {
            keys += (if (kv.isNull(i)) null else kv.getObject(i).toString)
            i += 1
          }
        }
      } finally reader.close()
    }
    Summary(rows, sums.toMap, keys.result())
  }
}
