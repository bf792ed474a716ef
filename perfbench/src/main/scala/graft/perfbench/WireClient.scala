package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.StructVector
import org.apache.arrow.vector.ipc.ArrowStreamReader

import java.io.ByteArrayInputStream
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.util.control.NonFatal

/** A Snowflake V1 wire client, as a connector drives it: login, then
  * query-request, base64 Arrow decode, and chunk downloads by URL. */
final class WireClient(port: Int) {
  import WireClient._

  var token: String = _

  def login(): Unit = {
    val (resp, _) = post("/session/v1/login-request", "{}")
    require(resp.path("success").asBoolean(), s"login failed: $resp")
    token = resp.path("data").path("token").asText()
  }

  def logout(): Unit = post("/session?delete=true", "{}")

  /** One statement through the wire. The latency covers request sent →
    * every chunk downloaded and Arrow-decoded; the result digest is taken
    * afterwards and is not timed. */
  def query(sql: String, hashMode: Boolean): WireResult = {
    val t0 = System.nanoTime()
    try exchange(sql, hashMode, t0)
    catch {
      case NonFatal(e) => // transport failure: counts as a failed statement
        WireResult((System.nanoTime() - t0) / 1e6, ok = false, e.toString, 0L, 0L, 0, null)
    }
  }

  private def exchange(sql: String, hashMode: Boolean, t0: Long): WireResult = {
    val body = mapper.createObjectNode().put("sqlText", sql)
    val (resp, respBytes) = post("/queries/v1/query-request",
      mapper.writeValueAsString(body))
    if (!resp.path("success").asBoolean())
      return WireResult((System.nanoTime() - t0) / 1e6, ok = false,
        resp.path("message").asText("unknown error"), 0L, respBytes, 0, null)
    val data = resp.path("data")
    val payloads = Seq.newBuilder[Array[Byte]]
    payloads += java.util.Base64.getDecoder.decode(data.path("rowsetBase64").asText())
    var bytes = respBytes
    val chunks = data.path("chunks")
    (0 until chunks.size()).foreach { i =>
      val b = get(chunks.get(i).path("url").asText())
      bytes += b.length
      payloads += b
    }
    val all = payloads.result()
    val rows = all.map(decodeCount).sum
    val lat = (System.nanoTime() - t0) / 1e6
    WireResult(lat, ok = true, "", rows, bytes, all.length,
      if (hashMode) digest(all) else cells(all))
  }

  private def post(path: String, body: String): (JsonNode, Long) = {
    val conn = open(path)
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/json")
    val os = conn.getOutputStream
    try os.write(body.getBytes(UTF_8)) finally os.close()
    val in = conn.getInputStream
    val raw = try in.readAllBytes() finally in.close()
    (mapper.readTree(raw), raw.length.toLong)
  }

  private def get(path: String): Array[Byte] = {
    val in = open(path).getInputStream
    try in.readAllBytes() finally in.close()
  }

  private def open(path: String): HttpURLConnection = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    if (token != null)
      conn.setRequestProperty("Authorization", s"""Snowflake Token="$token"""")
    conn
  }
}

final case class WireResult(latMs: Double, ok: Boolean, err: String,
    rows: Long, respBytes: Long, chunks: Int, result: JsonNode)

object WireClient {
  val mapper = new ObjectMapper()
  private val nf = JsonNodeFactory.instance
  private val allocator = new RootAllocator()

  private def eachBatch(bytes: Array[Byte])(f: VectorSchemaRoot => Unit): Unit = {
    val alloc = allocator.newChildAllocator("decode", 0, Long.MaxValue)
    val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes), alloc)
    try while (reader.loadNextBatch()) f(reader.getVectorSchemaRoot)
    finally { reader.close(); alloc.close() }
  }

  def decodeCount(bytes: Array[Byte]): Long = {
    var n = 0L
    eachBatch(bytes)(root => n += root.getRowCount)
    n
  }

  private def vectors(root: VectorSchemaRoot): IndexedSeq[FieldVector] =
    (0 until root.getFieldVectors.size()).map(root.getFieldVectors.get(_))

  /** Timestamps arrive as Snowflake's {epoch, fraction} structs; both the
    * row and the hash form carry them as epoch microseconds. */
  private def micros(sv: StructVector, i: Int): Long = {
    val e = sv.getChild("epoch").asInstanceOf[BigIntVector].get(i)
    val f = sv.getChild("fraction").asInstanceOf[IntVector].get(i)
    e * 1000000L + f / 1000
  }

  /** Full result as JSON rows, for results compared cell by cell. */
  def cells(payloads: Seq[Array[Byte]]): ArrayNode = {
    val out = nf.arrayNode()
    payloads.foreach(p => eachBatch(p) { root =>
      val vs = vectors(root)
      (0 until root.getRowCount).foreach { i =>
        val row = out.addArray()
        vs.foreach { v =>
          if (v.isNull(i)) row.addNull()
          else v match {
            case sv: StructVector => row.add(micros(sv, i))
            case d: DateDayVector =>
              row.add(java.time.LocalDate.ofEpochDay(d.get(i).toLong).toString)
            case d: DecimalVector => row.add(d.getObject(i))
            case d: Float8Vector => row.add(d.get(i))
            case d: Float4Vector => row.add(d.get(i).toDouble)
            case b: BitVector => row.add(b.get(i) == 1)
            case b: BaseIntVector => row.add(b.getValueAsLong(i))
            case other => row.add(String.valueOf(other.getObject(i)))
          }
        }
      }
    })
    out
  }

  /** Order-independent digest of a large result: row count plus the
    * wrapping sum of each canonical row's MD5 prefix. Doubles are taken
    * to cents, as the benchmark's data carries two decimals. */
  def digest(payloads: Seq[Array[Byte]]): ObjectNode = {
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    var n = 0L
    val sb = new java.lang.StringBuilder
    payloads.foreach(p => eachBatch(p) { root =>
      val vs = vectors(root)
      (0 until root.getRowCount).foreach { i =>
        sb.setLength(0)
        vs.zipWithIndex.foreach { case (v, j) =>
          if (j > 0) sb.append('|')
          if (v.isNull(i)) sb.append("NULL")
          else v match {
            case sv: StructVector => sb.append(micros(sv, i))
            case d: DateDayVector =>
              sb.append(java.time.LocalDate.ofEpochDay(d.get(i).toLong).toString)
            case d: DecimalVector =>
              sb.append(d.getObject(i).stripTrailingZeros.toPlainString)
            case d: Float8Vector => sb.append(Math.round(d.get(i) * 100))
            case b: BitVector => sb.append(b.get(i) == 1)
            case b: BaseIntVector => sb.append(b.getValueAsLong(i))
            case other => sb.append(String.valueOf(other.getObject(i)))
          }
        }
        val h = md.digest(sb.toString.getBytes(UTF_8))
        sum += java.nio.ByteBuffer.wrap(h).getLong
        n += 1
      }
    })
    nf.objectNode().put("rows", n).put("hash", java.lang.Long.toUnsignedString(sum))
  }
}
