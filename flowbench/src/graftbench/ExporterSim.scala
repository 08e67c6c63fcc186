package graftbench

import java.nio.{ByteBuffer, ByteOrder}
import java.util.SplittableRandom

import scala.collection.mutable

/** Deterministic NetFlow/IPFIX exporter fleet.
  *
  * Every datagram is a pure function of (seed, exporter, round): the same
  * seed gives the same bytes, whatever order rounds are generated in. The
  * wire layouts follow the golden decode fixtures of the codec's test
  * suite (v5 fixed records; v9 / IPFIX template, options-template and
  * data sets, RFC 3954 / RFC 7011), copied here so the benchmark stands
  * alone.
  *
  * One round is what the closed-loop generator injects before it waits
  * for the stream to commit. In the round an exporter joins it first sends
  * its template and options-template packets, then its options (sampling)
  * data and flow data; every `refreshEvery` rounds after that it re-sends
  * the identical templates. Packets of all exporters interleave round-robin
  * inside a round, as they would arrive at one listener. The fleet present
  * from the start announces its templates alone in round 0 (a collector
  * starting beside running exporters); exporters joining later send
  * templates and data in the same round.
  */
final case class SimConfig(
    v5: Int, v9: Int, ipfix: Int,
    joiners: Int,          // of the templated exporters, how many join late
    joinEvery: Int,        // rounds between successive joins
    firstJoin: Int,        // round of the first join
    packetsPerRound: Int,  // data packets per exporter per round
    recordsPerPacket: Int, // records per data packet (v5 caps at 30)
    refreshEvery: Int)     // template refresh period in rounds

object SimConfig {
  /** ingest_parquet: large batches, the whole fleet present from the start. */
  val parquet = SimConfig(v5 = 4, v9 = 6, ipfix = 6, joiners = 0, joinEvery = 0,
    firstJoin = 0, packetsPerRound = 56, recordsPerPacket = 24, refreshEvery = 20)
  /** ingest_fanout: more exporters, IPFIX/v9-heavy, some joining mid-run,
    * small batches.
    */
  val fanout = SimConfig(v5 = 4, v9 = 18, ipfix = 18, joiners = 8, joinEvery = 12,
    firstJoin = 10, packetsPerRound = 1, recordsPerPacket = 10, refreshEvery = 10)

  def forWorkload(name: String): SimConfig = name match {
    case "ingest_parquet" => parquet
    case "ingest_fanout"  => fanout
    case other => throw new IllegalArgumentException(s"no simulator for $other")
  }
}

/** Pre-encode ground truth for one exporter. */
final case class Truth(count: Long, bytes: Long, packets: Long) {
  def +(o: Truth): Truth = Truth(count + o.count, bytes + o.bytes, packets + o.packets)
}

object Truth { val zero: Truth = Truth(0L, 0L, 0L) }

final case class Exporter(index: Int, peer: String, version: Int, domain: Long,
    joinRound: Int, sampling: Int)

/** One generated datagram: who sent it, and the data records it encodes. */
final case class Datagram(peer: String, payload: Array[Byte], records: Int)

final class ExporterSim(val seed: Long, val cfg: SimConfig) {
  import ExporterSim._

  val exporters: IndexedSeq[Exporter] = {
    val rnd = new SplittableRandom(seed)
    val versions = Seq.fill(cfg.v5)(5) ++ Seq.fill(cfg.v9)(9) ++ Seq.fill(cfg.ipfix)(10)
    // Seeded shuffle of the fleet order, then the last `joiners` templated
    // exporters join late, spaced `joinEvery` rounds apart.
    val order = versions.indices.toArray
    var i = order.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }
    val late = order.filter(versions(_) != 5).takeRight(cfg.joiners)
    order.toIndexedSeq.zipWithIndex.map { case (v, idx) =>
      val k = late.indexOf(v)
      Exporter(idx, s"10.${1 + rnd.nextInt(250)}.${idx / 250}.${1 + idx % 250}",
        versions(v), domain = 1L + rnd.nextInt(1 << 16),
        joinRound = if (k < 0) 0 else cfg.firstJoin + k * cfg.joinEvery,
        sampling = 1 << rnd.nextInt(8))
    }
  }

  /** The datagrams of round `r`, interleaved round-robin across exporters,
    * with their records' truth per exporter.
    */
  def round(r: Int): (Array[Datagram], Map[String, Truth]) = {
    val perExporter = exporters.filter(_.joinRound <= r).map(e => e -> packets(e, r))
    val out = mutable.ArrayBuffer.empty[Datagram]
    val maxLen = if (perExporter.isEmpty) 0 else perExporter.map(_._2._1.length).max
    var k = 0
    while (k < maxLen) {
      perExporter.foreach { case (_, (ps, _)) => if (k < ps.length) out += ps(k) }
      k += 1
    }
    (out.toArray, perExporter.map { case (e, (_, t)) => e.peer -> t }.toMap)
  }

  private def packets(e: Exporter, r: Int): (Array[Datagram], Truth) = {
    val rnd = new SplittableRandom(mix(seed, e.index, r))
    val announce = r == e.joinRound || (r - e.joinRound) % cfg.refreshEvery == 0
    val out = mutable.ArrayBuffer.empty[Datagram]
    var truth = Truth.zero
    val seq = r.toLong * (cfg.packetsPerRound + 3)
    if (e.version != 5 && announce) {
      out += Datagram(e.peer, templatePacket(e, r, seq), 0)
      out += Datagram(e.peer, optionsPacket(e, r, seq + 1), 0)
    }
    if (r > 0) {
      var p = 0
      while (p < cfg.packetsPerRound) {
        val recs = Array.fill(cfg.recordsPerPacket)(flow(rnd, e, r))
        recs.foreach(f => truth += Truth(1L, f.bytes, f.packets))
        val payload = e.version match {
          case 5 => v5Packet(e, r, seq + 2 + p, recs)
          case _ => dataPacket(e, r, seq + 2 + p, recs)
        }
        out += Datagram(e.peer, payload, recs.length)
        p += 1
      }
    }
    (out.toArray, truth)
  }

  private def flow(rnd: SplittableRandom, e: Exporter, r: Int): Flow = {
    val pkts = 1L + rnd.nextInt(if (rnd.nextInt(10) == 0) 5000 else 40)
    val proto = Array(6, 6, 6, 17, 17, 1)(rnd.nextInt(6))
    val startMs = roundMs(r) - rnd.nextInt(60000)
    Flow(
      src = (10 << 24) | (e.index << 16) | rnd.nextInt(1 << 16),
      dst = (172 << 24) | (16 << 16) | rnd.nextInt(1 << 16),
      srcPort = 1024 + rnd.nextInt(64000),
      dstPort = Array(53, 80, 443, 123, 22, 8080)(rnd.nextInt(6)),
      proto = proto,
      tcpFlags = if (proto == 6) rnd.nextInt(64) else 0,
      packets = pkts,
      bytes = pkts * (40 + rnd.nextInt(1460)),
      startMs = startMs,
      endMs = startMs + rnd.nextInt(30000),
      inIf = 1 + rnd.nextInt(48),
      outIf = 1 + rnd.nextInt(48))
  }

  // ----------------------------------------------------------- wire
  private def v5Packet(e: Exporter, r: Int, seq: Long, recs: Array[Flow]): Array[Byte] = {
    val exportMs = roundMs(r)
    val bootMs = exportMs - UptimeMs
    val buf = ByteBuffer.allocate(24 + 48 * recs.length).order(ByteOrder.BIG_ENDIAN)
    buf.putShort(5.toShort).putShort(recs.length.toShort)
      .putInt(UptimeMs.toInt).putInt((exportMs / 1000).toInt)
      .putInt(((exportMs % 1000) * 1000000L).toInt)
      .putInt(seq.toInt).put((e.domain >> 8).toByte).put(e.domain.toByte)
      .putShort((0x4000 | (e.sampling & 0x3FFF)).toShort)
    recs.foreach { f =>
      buf.putInt(f.src).putInt(f.dst).putInt(0xC0000201)
        .putShort(f.inIf.toShort).putShort(f.outIf.toShort)
        .putInt(f.packets.toInt).putInt(f.bytes.toInt)
        .putInt((f.startMs - bootMs).toInt).putInt((f.endMs - bootMs).toInt)
        .putShort(f.srcPort.toShort).putShort(f.dstPort.toShort)
        .put(0.toByte).put(f.tcpFlags.toByte).put(f.proto.toByte).put(0.toByte)
        .putShort(64512.toShort).putShort(64513.toShort)
        .put(24.toByte).put(24.toByte).putShort(0)
    }
    buf.array()
  }

  private def fields(e: Exporter): Seq[(Int, Int)] =
    if (e.version == 9) V9Fields else IpfixFields

  private def templatePacket(e: Exporter, r: Int, seq: Long): Array[Byte] = {
    val fs = fields(e)
    val set = ByteBuffer.allocate(8 + fs.size * 4).order(ByteOrder.BIG_ENDIAN)
    set.putShort((if (e.version == 9) 0 else 2).toShort).putShort((8 + fs.size * 4).toShort)
      .putShort(DataTemplate.toShort).putShort(fs.size.toShort)
    fs.foreach { case (ie, len) => set.putShort(ie.toShort).putShort(len.toShort) }
    header(e, r, seq, set.array())
  }

  /** Options template (scope: the exporter / observation domain; options:
    * packet sampling interval and algorithm) plus one options data record
    * carrying this exporter's "1 in N" sampling interval.
    */
  private def optionsPacket(e: Exporter, r: Int, seq: Long): Array[Byte] = {
    val v9 = e.version == 9
    val (scope, opts) =
      if (v9) (Seq((1, 4)), Seq((34, 4), (35, 1))) // System; samplingInterval/Algorithm
      else (Seq((149, 4)), Seq((305, 4), (304, 1))) // observationDomainId; samplingPacketInterval
    val specs = scope ++ opts
    val tLen = 10 + specs.size * 4
    val tmpl = ByteBuffer.allocate(tLen + 2).order(ByteOrder.BIG_ENDIAN) // 2B pad
    tmpl.putShort((if (v9) 1 else 3).toShort).putShort((tLen + 2).toShort)
      .putShort(OptionsTemplate.toShort)
    if (v9) tmpl.putShort((scope.size * 4).toShort).putShort((opts.size * 4).toShort)
    else tmpl.putShort(specs.size.toShort).putShort(scope.size.toShort)
    specs.foreach { case (ie, len) => tmpl.putShort(ie.toShort).putShort(len.toShort) }
    tmpl.putShort(0)
    val data = ByteBuffer.allocate(4 + 9 + 3).order(ByteOrder.BIG_ENDIAN) // 3B pad
    data.putShort(OptionsTemplate.toShort).putShort(16.toShort)
      .putInt(e.domain.toInt).putInt(e.sampling).put(1.toByte).put(0.toByte).putShort(0)
    header(e, r, seq, tmpl.array(), data.array())
  }

  private def dataPacket(e: Exporter, r: Int, seq: Long, recs: Array[Flow]): Array[Byte] = {
    val v9 = e.version == 9
    val recLen = fields(e).map(_._2).sum
    val bootMs = roundMs(r) - UptimeMs
    val body = 4 + recLen * recs.length
    val pad = (4 - body % 4) % 4
    val set = ByteBuffer.allocate(body + pad).order(ByteOrder.BIG_ENDIAN)
    set.putShort(DataTemplate.toShort).putShort((body + pad).toShort)
    recs.foreach { f =>
      set.putInt(f.src).putInt(f.dst).putShort(f.srcPort.toShort).putShort(f.dstPort.toShort)
        .put(f.proto.toByte).put(f.tcpFlags.toByte)
      if (v9)
        set.putInt(f.bytes.toInt).putInt(f.packets.toInt)
          .putInt((f.startMs - bootMs).toInt).putInt((f.endMs - bootMs).toInt)
          .putShort(f.inIf.toShort).putShort(f.outIf.toShort)
      else
        set.putLong(f.bytes).putLong(f.packets).putLong(f.startMs).putLong(f.endMs)
          .putInt(f.inIf).putInt(f.outIf)
    }
    header(e, r, seq, set.array())
  }

  private def header(e: Exporter, r: Int, seq: Long, sets: Array[Byte]*): Array[Byte] = {
    val v9 = e.version == 9
    val hLen = if (v9) 20 else 16
    val total = hLen + sets.map(_.length).sum
    val buf = ByteBuffer.allocate(total).order(ByteOrder.BIG_ENDIAN)
    val exportMs = roundMs(r)
    if (v9)
      buf.putShort(9.toShort).putShort(sets.length.toShort).putInt(UptimeMs.toInt)
        .putInt((exportMs / 1000).toInt).putInt(seq.toInt).putInt(e.domain.toInt)
    else
      buf.putShort(10.toShort).putShort(total.toShort).putInt((exportMs / 1000).toInt)
        .putInt(seq.toInt).putInt(e.domain.toInt)
    sets.foreach(buf.put)
    buf.array()
  }

  // v9 export times are whole seconds, so v9 uptime-relative times are
  // anchored on a whole-second export time.
  private def roundMs(r: Int): Long = BaseMs + r * 1000L
}

object ExporterSim {
  /** 2024-03-01T10:59:00Z: flows cross into the next hour partition mid-run. */
  val BaseMs = 1709290740000L
  val UptimeMs = 3600000L
  val DataTemplate = 256
  val OptionsTemplate = 257

  /** IE id, length. v9 uses 4-byte counters and uptime-relative times;
    * IPFIX 8-byte counters and absolute milliseconds.
    */
  val V9Fields: Seq[(Int, Int)] = Seq((8, 4), (12, 4), (7, 2), (11, 2), (4, 1), (6, 1),
    (1, 4), (2, 4), (22, 4), (21, 4), (10, 2), (14, 2))
  val IpfixFields: Seq[(Int, Int)] = Seq((8, 4), (12, 4), (7, 2), (11, 2), (4, 1), (6, 1),
    (1, 8), (2, 8), (152, 8), (153, 8), (10, 4), (14, 4))

  final case class Flow(src: Int, dst: Int, srcPort: Int, dstPort: Int, proto: Int,
      tcpFlags: Int, packets: Long, bytes: Long, startMs: Long, endMs: Long,
      inIf: Int, outIf: Int)

  private def mix(seed: Long, exporter: Int, round: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + exporter * 0xBF58476D1CE4E5B9L + round * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
