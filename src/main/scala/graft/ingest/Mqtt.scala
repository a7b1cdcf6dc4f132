package graft.ingest

import java.io.{BufferedInputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8

/**
 * Minimal MQTT 3.1.1 client for the `Fetch: Mqtt` step — the reference
 * subscribes to a topic list and drains messages until the stream goes idle,
 * emitting the payloads as an NDJSON batch
 * (src/infra/core/src/services/ingest/fetch_service/mqtt.rs; DTO
 * FetchStepMqtt src/odf/metadata/src/dtos/dtos_generated.rs:2246).
 *
 * Implemented directly over `java.net.Socket`: the fixed-header varint
 * framing plus the CONNECT/CONNACK/SUBSCRIBE/SUBACK/PUBLISH/PUBACK/PINGRESP/
 * DISCONNECT subset a bounded drain needs. No external broker library — the
 * packet codec is also what the in-process test broker speaks.
 *
 * Session semantics follow the reference (fetch_service/mqtt.rs:40-58):
 * connect with clean-session = false and a stable client id, subscribe at
 * QoS 1, and PUBACK each delivery — so the broker holds undelivered QoS 1
 * messages between polls and the next poll resumes the stream instead of
 * only seeing what was published while a drain happened to be connected.
 */
object Mqtt {

  final case class Message(topic: String, payload: Array[Byte])

  /** Decoded fixed-header packet: type (4 bits), flags (4 bits), body. */
  final case class Packet(ptype: Int, flags: Int, body: Array[Byte])

  // ------------------------------------------------------------ encoding

  /** MQTT remaining-length varint (7 bits per byte, MSB = continuation). */
  private def remainingLength(n0: Int): Array[Byte] = {
    require(n0 >= 0 && n0 <= 268435455, s"MQTT remaining length out of range: $n0")
    val b = collection.mutable.ArrayBuffer.empty[Byte]
    var n = n0
    var continue = true
    while (continue) {
      var d = n % 128
      n /= 128
      if (n > 0) d |= 0x80 else continue = false
      b += d.toByte
    }
    b.toArray
  }

  /** Length-prefixed UTF-8 string (MQTT 1.5.3). */
  private def utf8(s: String): Array[Byte] = {
    val b = s.getBytes(UTF_8)
    require(b.length <= 0xFFFF, "MQTT string too long")
    Array[Byte]((b.length >> 8).toByte, b.length.toByte) ++ b
  }

  private def packet(firstByte: Int, body: Array[Byte]): Array[Byte] =
    firstByte.toByte +: (remainingLength(body.length) ++ body)

  def connectPacket(
      clientId: String,
      keepAliveSec: Int = 60,
      cleanSession: Boolean = false
  ): Array[Byte] =
    packet(
      0x10,
      utf8("MQTT") ++ Array[Byte](
        4 /* protocol level 3.1.1 */,
        (if (cleanSession) 0x02 else 0x00).toByte
      ) ++
        Array[Byte]((keepAliveSec >> 8).toByte, keepAliveSec.toByte) ++ utf8(clientId)
    )

  def subscribePacket(packetId: Int, topics: Seq[String], qos: Int = 1): Array[Byte] =
    packet(
      0x82,
      Array[Byte]((packetId >> 8).toByte, packetId.toByte) ++
        topics.flatMap(t => utf8(t) :+ qos.toByte).toArray
    )

  /** PUBACK for a QoS 1 delivery (MQTT 3.4). */
  def pubackPacket(packetId: Int): Array[Byte] =
    Array(0x40.toByte, 2.toByte, (packetId >> 8).toByte, packetId.toByte)

  def publishPacket(topic: String, payload: Array[Byte]): Array[Byte] =
    packet(0x30, utf8(topic) ++ payload)

  /** QoS 1 PUBLISH (carries a packet id; receiver must PUBACK). */
  def publishPacketQos1(topic: String, payload: Array[Byte], packetId: Int): Array[Byte] =
    packet(
      0x32,
      utf8(topic) ++ Array[Byte]((packetId >> 8).toByte, packetId.toByte) ++ payload
    )

  def connackPacket: Array[Byte] = Array(0x20, 2, 0, 0).map(_.toByte)

  def subackPacket(packetId: Int, nTopics: Int): Array[Byte] =
    packet(0x90, Array[Byte]((packetId >> 8).toByte, packetId.toByte) ++ Array.fill(nTopics)(0.toByte))

  def disconnectPacket: Array[Byte] = Array(0xE0.toByte, 0.toByte)

  // ------------------------------------------------------------ decoding

  def readPacket(in: DataInputStream): Packet = {
    val h = in.readUnsignedByte()
    var len = 0
    var mult = 1
    var d = 0
    do {
      d = in.readUnsignedByte()
      len += (d & 0x7F) * mult
      mult *= 128
    } while ((d & 0x80) != 0)
    val body = new Array[Byte](len)
    in.readFully(body)
    Packet(h >> 4, h & 0x0F, body)
  }

  /** PUBLISH → (message, packetId); the id is present only for QoS > 0. */
  def parsePublishWithId(p: Packet): (Message, Option[Int]) = {
    val tlen = ((p.body(0) & 0xFF) << 8) | (p.body(1) & 0xFF)
    val topic = new String(p.body, 2, tlen, UTF_8)
    val qos = (p.flags >> 1) & 0x03
    val pid =
      if (qos > 0) Some(((p.body(2 + tlen) & 0xFF) << 8) | (p.body(3 + tlen) & 0xFF))
      else None
    val headerEnd = 2 + tlen + (if (qos > 0) 2 else 0)
    (Message(topic, p.body.drop(headerEnd)), pid)
  }

  // ------------------------------------------------------------ drain

  /**
   * Connect, subscribe, and drain PUBLISH messages until the broker goes
   * idle for `idleTimeoutMs`, closes the connection, or `maxMessages` is
   * reached — the reference's bounded-drain semantics (a poll must
   * terminate; the stream is resumed by the next poll).
   *
   * Resume works because the session is persistent: clean-session = false
   * with a stable `clientId`, QoS 1 subscription, and a PUBACK per delivery.
   * The broker queues QoS 1 messages for the session while no drain is
   * connected and redelivers anything unacknowledged.
   */
  def drain(
      host: String,
      port: Int,
      topics: Seq[String],
      clientId: String = "graft",
      maxMessages: Int = 10000,
      idleTimeoutMs: Int = 1000,
      cleanSession: Boolean = false,
      qos: Int = 1
  ): Seq[Message] = {
    require(topics.nonEmpty, "MQTT drain requires at least one topic")
    val sock = new Socket(host, port)
    try {
      sock.setSoTimeout(idleTimeoutMs)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      out.write(connectPacket(clientId, cleanSession = cleanSession))
      out.flush()
      val connack = readPacket(in)
      require(connack.ptype == 2 && connack.body(1) == 0, s"MQTT CONNACK refused: ${connack.body.toSeq}")
      out.write(subscribePacket(1, topics, qos))
      out.flush()
      val msgs = collection.mutable.ArrayBuffer.empty[Message]
      try {
        var done = false
        while (!done && msgs.size < maxMessages) {
          val p = readPacket(in)
          p.ptype match {
            case 3 =>
              val (msg, pid) = parsePublishWithId(p)
              msgs += msg
              pid.foreach { id => out.write(pubackPacket(id)); out.flush() }
            case 9  => () // SUBACK
            case 13 => () // PINGRESP
            case 14 => done = true // server DISCONNECT
            case _  => ()
          }
        }
      } catch {
        case _: SocketTimeoutException => () // idle -> this poll is done
        case _: EOFException           => () // broker closed -> done
      }
      try {
        out.write(disconnectPacket)
        out.flush()
      } catch { case _: IOException => () }
      msgs.toSeq
    } finally sock.close()
  }
}
