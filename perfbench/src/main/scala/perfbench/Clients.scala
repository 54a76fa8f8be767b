package perfbench

import java.io.{BufferedInputStream, OutputStream}
import java.net.{InetAddress, Socket}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer

/** One `/price` request body's inputs: q13's derivation for a customer. */
final case class Customer(key: Long, region: String, persons: Int, m2: Int)

/** A server and the generation of the pricing state it answers with. */
final case class Target(gen: Int, port: Int)

/** One completed request. `cust` is -1 for an incomplete body, which
  * must be answered 400; `status` is -1 when the exchange failed.
  */
final case class Reply(cust: Int, gen: Int, status: Int, price: Double, startNs: Long, endNs: Long)

/** A closed loop of `n` client threads, each holding one keep-alive
  * connection and sending its next `GET /price` only after the previous
  * reply arrived. Bodies are drawn from `customers` with the seed; about
  * 2% omit a field and expect a 400.
  *
  * Clients follow [[target]]: when it changes they finish their request
  * in flight, reconnect to the new server, and count themselves in
  * [[moved]] for that generation.
  */
final class Clients(n: Int, seed: Long, customers: IndexedSeq[Customer], first: Target) {
  @volatile var target: Target = first
  @volatile var recording = false
  @volatile private var running = true
  val completed = new AtomicLong
  val connections = new AtomicLong
  val firstReplyNs = new ConcurrentHashMap[Int, Long]()
  private val movedTo = new ConcurrentHashMap[Int, AtomicInteger]()
  private val logs = Array.fill(n)(ArrayBuffer.empty[Reply])

  def moved(gen: Int): Int = movedTo.computeIfAbsent(gen, _ => new AtomicInteger).get

  private val bodies: IndexedSeq[Array[Byte]] = customers.map(c =>
    s"""{"libelle_region":"${c.region}","nb_personne":${c.persons},"nb_m2":${c.m2}}""".getBytes(UTF_8))
  private val incomplete = """{"libelle_region":"ASIA","nb_personne":2}""".getBytes(UTF_8)

  private val threads = (0 until n).map { i =>
    val t = new Thread(() => loop(i), s"price-client-$i")
    t.setDaemon(true)
    t
  }
  threads.foreach(_.start())

  private def loop(i: Int): Unit = {
    val rnd = new SplittableRandom(seed * 1000003L + i)
    var sock: Socket = null
    var out: OutputStream = null
    var in: BufferedInputStream = null
    var gen = -1
    while (running) {
      val t = target
      val cust = if (rnd.nextInt(1000) < 20) -1 else rnd.nextInt(customers.size)
      val body = if (cust < 0) incomplete else bodies(cust)
      val rec = recording
      val t0 = System.nanoTime()
      val (status, price) =
        try {
          if (t.gen != gen || sock == null) {
            if (sock != null) sock.close()
            sock = new Socket(InetAddress.getLoopbackAddress, t.port)
            sock.setTcpNoDelay(true)
            out = sock.getOutputStream
            in = new BufferedInputStream(sock.getInputStream)
            connections.incrementAndGet()
            if (t.gen != gen) movedTo.computeIfAbsent(t.gen, _ => new AtomicInteger).incrementAndGet()
            gen = t.gen
          }
          exchange(out, in, t.port, body)
        } catch {
          case _: java.io.IOException =>
            if (sock != null) sock.close()
            sock = null
            (-1, Double.NaN)
        }
      val t1 = System.nanoTime()
      completed.incrementAndGet()
      if (status > 0) firstReplyNs.putIfAbsent(t.gen, t1)
      if (rec) logs(i) += Reply(cust, t.gen, status, price, t0, t1)
    }
    if (sock != null) sock.close()
  }

  /** One HTTP/1.1 exchange on a kept-alive connection, request sent in
    * a single write. Returns the status and the parsed `price` (NaN
    * when the reply carries none).
    */
  private def exchange(out: OutputStream, in: BufferedInputStream, port: Int,
                       body: Array[Byte]): (Int, Double) = {
    val head = s"GET /price HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
      s"Content-Type: application/json\r\nContent-Length: ${body.length}\r\n\r\n"
    out.write(head.getBytes(US_ASCII) ++ body)
    out.flush()
    val status = readLine(in).split(' ')(1).toInt
    var length = 0
    var line = readLine(in)
    while (line.nonEmpty) {
      val colon = line.indexOf(':')
      if (line.substring(0, colon).equalsIgnoreCase("Content-Length"))
        length = line.substring(colon + 1).trim.toInt
      line = readLine(in)
    }
    val reply = new String(in.readNBytes(length), UTF_8)
    val price =
      if (status == 200 && reply.startsWith("{\"price\":")) reply.substring(9, reply.length - 1).toDouble
      else Double.NaN
    (status, price)
  }

  private def readLine(in: BufferedInputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  /** Stop every client and wait for it to end. */
  def stop(): Unit = {
    running = false
    threads.foreach(_.join(10000))
  }

  def replies: Seq[Reply] = logs.toSeq.flatten
}
