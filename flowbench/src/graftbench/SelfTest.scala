package graftbench

import java.nio.file.Path

import graft.streaming.NetFlowCodec

/** Checks of the benchmark's own input generator (no Spark):
  *  - the same seed gives identical datagrams and truth, another seed not;
  *  - every simulated datagram decodes back to the simulator's truth
  *    through `NetFlowCodec.decode`, options records included.
  */
object SelfTest {
  private val Rounds = 0 until 40

  def run(runDir: Path): Int = {
    var failures = 0
    def check(name: String)(ok: => Boolean): Unit = {
      val pass = try ok catch { case e: Throwable => println(s"  $e"); false }
      println(s"selftest ${if (pass) "ok  " else "FAIL"} $name")
      if (!pass) failures += 1
    }
    Seq("ingest_parquet", "ingest_fanout").foreach { w =>
      val cfg = SimConfig.forWorkload(w)
      def dump(seed: Long) = Rounds.map { r =>
        val (dgs, truth) = new ExporterSim(seed, cfg).round(r)
        (dgs.map(d => (d.peer, d.payload.toSeq, d.records)).toSeq, truth)
      }
      check(s"$w: same seed, same datagrams and truth")(dump(7L) == dump(7L))
      check(s"$w: another seed, other datagrams")(dump(7L) != dump(8L))
      check(s"$w: rounds do not depend on generation order") {
        val sim = new ExporterSim(11L, cfg)
        val late = sim.round(25)._1.map(_.payload.toSeq).toSeq
        new ExporterSim(11L, cfg).round(3)
        late == new ExporterSim(11L, cfg).round(25)._1.map(_.payload.toSeq).toSeq
      }
      check(s"$w: datagrams decode back to truth") {
        val sim = new ExporterSim(5L, cfg)
        var templates = Map.empty[NetFlowCodec.TemplateKey, NetFlowCodec.Template]
        var decoded = Map.empty[String, Truth]
        var truth = Map.empty[String, Truth]
        var sampling = Map.empty[String, Long]
        var errors = 0
        Rounds.foreach { r =>
          val (dgs, t) = sim.round(r)
          t.foreach { case (p, x) => truth += p -> (truth.getOrElse(p, Truth.zero) + x) }
          dgs.foreach { d =>
            val res = NetFlowCodec.decode(d.peer, 0L, d.payload, templates)
            templates = res.templates
            errors += res.errors.size
            res.records.foreach { f =>
              decoded += f.exporter -> (decoded.getOrElse(f.exporter, Truth.zero) +
                Truth(1L, f.bytes, f.packets))
            }
            res.options.foreach(o => o.samplingInterval.foreach(v => sampling += o.exporter -> v))
          }
        }
        val templated = sim.exporters.filter(e => e.version != 5 && e.joinRound < Rounds.end)
        val samplingOk = templated.forall(e => sampling.get(e.peer).contains(e.sampling.toLong))
        if (errors != 0) println(s"  $errors decode errors")
        if (!samplingOk) println(s"  sampling intervals decoded: $sampling")
        if (decoded != truth) println(s"  decoded $decoded\n  truth   $truth")
        errors == 0 && samplingOk && decoded == truth && truth.values.map(_.count).sum > 0
      }
    }
    check("ingest_fanout: some exporters join mid-run") {
      new ExporterSim(3L, SimConfig.fanout).exporters.count(_.joinRound > 0) == SimConfig.fanout.joiners
    }
    if (failures == 0) 0 else 1
  }
}
