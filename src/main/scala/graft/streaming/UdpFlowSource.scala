package graft.streaming

import java.net.{DatagramPacket, DatagramSocket, InetAddress}
import java.sql.Timestamp
import java.util
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 micro-batch UDP source — the Spark-native analog of the
  * reference's UDP collector loop (SURVEY §3.1): one listener per
  * configured endpoint, each datagram surfaced as a row of
  * `(recv_ts timestamp, peer string, payload binary)` for the decode
  * stage (NetFlowCodec) downstream.
  *
  * Usage: `spark.readStream.format("udp-flows").option("port","2055").load()`
  *
  * Scale notes: one listener endpoint = one offset log. On a cluster you
  * run N sources (one per receiver host) and `union` them. Each
  * micro-batch is cut into one input split per 128 KiB of datagram
  * payload, at most `partitions` (default 4), as contiguous
  * arrival-order ranges: a small batch decodes in one task, a large one
  * in parallel. Local tests inject datagrams via [[UdpFlowSource.inject]]
  * instead of opening a real socket (set option `socket=false`).
  */
class UdpFlowSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "udp-flows"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FlowSchema.packetSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new UdpFlowTable(new CaseInsensitiveStringMap(properties))
}

final class UdpFlowTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"udp-flows:${UdpFlowSource.endpointKey(options)}"
  override def schema(): StructType = FlowSchema.packetSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = FlowSchema.packetSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new UdpMicroBatchStream(options)
      }
    }
}

final case class UdpOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

final case class PacketSlice(rows: Array[(Long, String, Array[Byte])])
  extends InputPartition

object UdpFlowSource {
  /** Datagram buffers shared between stream instances, keyed by endpoint.
    * (firstSeq, packets): `commit` trims the acknowledged prefix so memory
    * is bounded by one trigger interval of traffic.
    *
    * Fault tolerance: like Spark's socket source, this source is NOT
    * fault-tolerant across JVM restarts — datagrams buffered in a dead
    * JVM are gone (at-most-once). What IS guaranteed is that recovery
    * never wedges or replays wrong rows: [[reseed]] aligns a fresh
    * buffer's sequence numbering with the restored checkpoint offset.
    */
  private val buffers =
    scala.collection.mutable.Map[String, (Long, ArrayBuffer[(Long, String, Array[Byte])])]()

  /** The live MicroBatchStream per endpoint. One stream per endpoint:
    * commit() trims the shared buffer, so two concurrent readers would
    * silently lose whatever the other acknowledged. Registration is
    * LAST-WINS: on a driver-side query restart Spark can construct the
    * new stream before (or instead of — a crashed run never tears down)
    * the old run's stop(), so a hard "already active" error would wedge
    * the endpoint permanently. The newer registration evicts the old
    * stream, which releases its socket and fails loudly on its next
    * operation instead of racing the new owner on commit-trim.
    */
  private val active = scala.collection.mutable.Map[String, UdpMicroBatchStream]()

  private[streaming] def register(key: String, stream: UdpMicroBatchStream): Unit =
    buffers.synchronized {
      active.get(key).foreach(_.supersede())
      active(key) = stream
    }

  /** Identity-checked: a superseded stream's late stop() must not evict
    * the endpoint's new owner.
    */
  private[streaming] def deregister(key: String, stream: UdpMicroBatchStream): Unit =
    buffers.synchronized { if (active.get(key).contains(stream)) active -= key }

  /** Is `stream` still the endpoint's registered owner? Checked under the
    * registry lock so it serializes against a concurrent register(): a
    * stream that binds its socket while being superseded sees the
    * eviction here and aborts its startup instead of squatting on the
    * port the live owner needs.
    */
  private[streaming] def isActive(key: String, stream: UdpMicroBatchStream): Boolean =
    buffers.synchronized { active.get(key).contains(stream) }

  /** Cross-JVM restart: the checkpoint holds seq N but a fresh process
    * numbers from 0. Renumber the buffer so already-received packets get
    * seqs ≥ the restored offset — recovery proceeds, nothing is replayed
    * under a wrong number (see fault-tolerance note above).
    */
  private[streaming] def reseed(key: String, atLeast: Long): Unit =
    buffers.synchronized {
      val (first, buf) = buffers.getOrElseUpdate(key, (0L, ArrayBuffer.empty))
      if (first + buf.length < atLeast) buffers(key) = (atLeast, buf)
    }

  def endpointKey(options: CaseInsensitiveStringMap): String =
    options.getOrDefault("host", "0.0.0.0") + ":" + options.getOrDefault("port", "2055")

  /** Source-owned sequence persistence (option `seqdir`): the committed
    * offset is written through to a tiny per-endpoint file, and a fresh
    * JVM restores it before its first batch. Without it, recovery leans
    * on [[reseed]]-from-checkpoint alone, which only aligns numbering
    * once Spark happens to call deserializeOffset — with it, an endpoint
    * resumes monotonic numbering even when a restarted query starts from
    * a cleared checkpoint (the reference collector's on-disk sequence
    * file, re-expressed). Datagrams buffered in the dead JVM are still
    * gone — the at-most-once note above stands.
    */
  private def seqFile(dir: String, key: String): java.nio.file.Path =
    java.nio.file.Paths.get(dir, key.replace(':', '_') + ".seq")

  private[streaming] def persistSeq(dir: String, key: String, seq: Long): Unit = {
    val p = seqFile(dir, key)
    java.nio.file.Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    java.nio.file.Files.writeString(tmp, seq.toString)
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private[streaming] def restoreSeq(dir: String, key: String): Option[Long] = {
    val p = seqFile(dir, key)
    if (java.nio.file.Files.exists(p))
      scala.util.Try(java.nio.file.Files.readString(p).trim.toLong).toOption
    else None
  }

  /** Test/driver-side injection path (used instead of a live socket). */
  def inject(key: String, recvTsMicros: Long, peer: String, payload: Array[Byte]): Unit =
    buffers.synchronized {
      val (first, buf) = buffers.getOrElseUpdate(key, (0L, ArrayBuffer.empty))
      buf += ((recvTsMicros, peer, payload))
      buffers(key) = (first, buf)
    }

  private[streaming] def latest(key: String): Long = buffers.synchronized {
    buffers.get(key).map { case (first, buf) => first + buf.length }.getOrElse(0L)
  }

  private[streaming] def slice(key: String, from: Long, until: Long): Array[(Long, String, Array[Byte])] =
    buffers.synchronized {
      buffers.get(key).map { case (first, buf) =>
        val lo = math.max(0L, from - first).toInt
        val hi = math.max(0L, until - first).toInt
        buf.slice(lo, hi).toArray
      }.getOrElse(Array.empty)
    }

  private[streaming] def trim(key: String, upTo: Long): Unit = buffers.synchronized {
    buffers.get(key).foreach { case (first, buf) =>
      val n = math.max(0L, upTo - first).toInt
      buffers(key) = (first + n, buf.drop(n))
    }
  }

  def clear(key: String): Unit =
    buffers.synchronized { buffers.remove(key); active.remove(key) }
}

final class UdpMicroBatchStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream {

  // Payload bytes per input slice. Each slice is one task, and a Parquet
  // write task pays about 15–20 ms before it decodes anything: it
  // deserializes the session's Hadoop configuration twice. Decode plus
  // write costs about 0.15 ms per KiB of datagrams, so a second task
  // only pays off once it takes over 100–150 KiB of work (flowbench
  // ingest workloads, 4-core x86 box).
  private val SliceBytes = 128L * 1024

  private val key = UdpFlowSource.endpointKey(options)
  // Parse every option BEFORE registering: a constructor failure after
  // register would leave the endpoint permanently wedged (stop() never
  // runs on a half-constructed stream).
  private val maxSlices = options.getInt("partitions", 4)
  private val useSocket = options.getBoolean("socket", true)
  private val port = options.getInt("port", 2055)
  private val host = options.getOrDefault("host", "0.0.0.0")
  private val seqDir = Option(options.get("seqdir")).filter(_.nonEmpty)
  // Initialized before register() publishes `this`: a racing successor's
  // supersede() write must not be clobbered by this initializer.
  @volatile private var superseded = false

  // One live stream per endpoint (commit trims); registering BEFORE the
  // socket bind lets this stream evict a dead predecessor and take over
  // its port. An evicted stream answers every later call with
  // IllegalStateException (see supersede) rather than racing us.
  UdpFlowSource.register(key, this)

  // Source-owned sequence recovery: resume numbering from the persisted
  // committed seq (if any) before the first batch of this JVM.
  seqDir.flatMap(UdpFlowSource.restoreSeq(_, key))
    .foreach(UdpFlowSource.reseed(key, _))

  /** Called (under the registry lock) when a newer stream registers this
    * endpoint: release the socket so the successor can bind, and make
    * every subsequent engine call on this instance fail loudly — the old
    * query run is dead or dying, and a silent commit-trim from it would
    * steal the new run's data.
    */
  private[streaming] def supersede(): Unit = {
    superseded = true
    if (socket != null) socket.close()
    if (receiver != null) receiver.interrupt()
  }

  private def ensureOwner(): Unit =
    if (superseded) throw new IllegalStateException(
      s"udp-flows stream on $key was superseded by a newer query run")

  // Receiver thread: socket.recv → shared buffer (thread boundary #1 of
  // the reference pipeline, SURVEY §3.1). Deregister on any bind/setup
  // failure so the endpoint stays usable.
  @volatile private var socket: DatagramSocket = _
  private val receiver: Thread = if (!useSocket) null else try {
    // The predecessor releases the port inside its supersede(), which our
    // register() above just triggered — but its close can still be in
    // flight, so tolerate a brief address-in-use window before giving up.
    socket = bindWithRetry()
    // Constructor-race guard (registry-lock serialized): if a newer
    // stream registered while we were binding, its supersede() ran
    // against our then-null socket — a no-op — and we just took the port
    // out from under the live owner. Detect the eviction and abort; the
    // catch below deregisters only if we still own the entry (we don't).
    if (!UdpFlowSource.isActive(key, this)) {
      socket.close()
      throw new IllegalStateException(
        s"udp-flows stream on $key was superseded during startup")
    }
    val t = new Thread(() => {
      val buf = new Array[Byte](65535)
      try while (!Thread.currentThread().isInterrupted) {
        val dp = new DatagramPacket(buf, buf.length)
        socket.receive(dp)
        UdpFlowSource.inject(key, System.currentTimeMillis() * 1000L,
          dp.getAddress.getHostAddress,
          util.Arrays.copyOfRange(dp.getData, dp.getOffset, dp.getOffset + dp.getLength))
      } catch { case _: java.net.SocketException => /* closed */ }
    }, s"udp-flow-receiver-$key")
    t.setDaemon(true)
    t.start()
    t
  } catch {
    case e: Throwable => UdpFlowSource.deregister(key, this); throw e
  }

  private def bindWithRetry(): DatagramSocket = {
    var attempt = 0
    while (true) {
      try return new DatagramSocket(port, InetAddress.getByName(host))
      catch {
        case _: java.net.BindException if attempt < 20 =>
          attempt += 1; Thread.sleep(50)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  override def initialOffset(): Offset = { ensureOwner(); UdpOffset(0L) }
  override def latestOffset(): Offset = {
    ensureOwner()
    UdpOffset(UdpFlowSource.latest(key))
  }
  override def deserializeOffset(json: String): Offset = {
    // Owner check FIRST: reseed() renumbers the shared per-endpoint
    // buffer, and a superseded stream's late deserializeOffset must fail
    // loudly instead of renumbering it out from under the new owner —
    // the same race latestOffset/commit/planInputPartitions guard.
    ensureOwner()
    val o = UdpOffset(json.toLong)
    // Restored from a checkpoint: make sure this (possibly fresh) JVM's
    // buffer numbering is not behind the committed offset.
    UdpFlowSource.reseed(key, o.seq)
    o
  }
  override def commit(end: Offset): Unit = {
    ensureOwner()
    val seq = end.asInstanceOf[UdpOffset].seq
    UdpFlowSource.trim(key, seq)
    // Write-through AFTER the trim: a crash between the two re-trims on
    // restart (idempotent) rather than resuming behind the buffer head.
    seqDir.foreach(UdpFlowSource.persistSeq(_, key, seq))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    ensureOwner()
    val rows = UdpFlowSource.slice(key,
      start.asInstanceOf[UdpOffset].seq, end.asInstanceOf[UdpOffset].seq)
    if (rows.isEmpty) Array.empty
    else {
      // One slice per SliceBytes of payload, at most `partitions`, each a
      // contiguous arrival-order range.
      val bytes = rows.iterator.map(_._3.length.toLong).sum
      val n = math.max(1L, math.min(maxSlices.toLong,
        (bytes + SliceBytes - 1) / SliceBytes)).toInt
      rows.grouped((rows.length + n - 1) / n).map(PacketSlice).toArray[InputPartition]
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => new PartitionReader[InternalRow] {
      private val rows = partition.asInstanceOf[PacketSlice].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = {
        val (us, peer, payload) = rows(i)
        InternalRow(us, UTF8String.fromString(peer), payload)
      }
      override def close(): Unit = ()
    }

  override def stop(): Unit = {
    if (socket != null) socket.close()
    if (receiver != null) receiver.interrupt()
    UdpFlowSource.deregister(key, this)
  }
}
