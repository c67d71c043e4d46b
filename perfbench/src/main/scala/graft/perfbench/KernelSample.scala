package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.catalyst.InternalRow
import graft.enrich.Dicts
import graft.pipeline.{Engine, RowKernel}

/** Single-thread, driver-side cost of the three kernel layers on a sample
  * of input rows, measured by calling the engine's public entry points:
  *
  *  - parse   = `Engine.parseCardinality` (dispatch + parse program)
  *  - enrich  = `Engine.parseAndEnrich` − parse (the enrichment chain)
  *  - flatten = `RowKernel.process` − `parseAndEnrich` (row decode, flatten
  *              and row write)
  *
  * In ns and allocated bytes per input turn, after two warm-up passes. */
object KernelSample {
  private val tmx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  final case class Cost(ns: Double, allocB: Double)
  final case class Layers(turns: Int, parse: Cost, enrich: Cost, flatten: Cost)

  /** `rows` carry the kernel's input layout (conv_id, turn_idx, role, text,
    * tool, ts micros). */
  def measure(rows: Array[InternalRow], dicts: Dicts, passes: Int = 7): Layers = {
    val n = rows.length
    val techs = rows.map(r => Engine.techOf(if (r.isNullAt(4)) "" else r.getUTF8String(4).toString))
    val texts = rows.map(r => if (r.isNullAt(3)) null else r.getUTF8String(3).toString)
    val millis = rows.map(r => Math.floorDiv(r.getLong(5), 1000L))

    def parse(): Long = {
      var acc = 0L; var i = 0
      while (i < n) {
        acc += Engine.parseCardinality(techs(i)._1, techs(i)._2, texts(i), millis(i), dicts); i += 1
      }
      acc
    }
    def parseEnrich(): Long = {
      var acc = 0L; var i = 0
      while (i < n) {
        val out = Engine.parseAndEnrich(techs(i)._1, techs(i)._2, texts(i), millis(i), dicts)
        if (out != null) acc += out.size
        i += 1
      }
      acc
    }
    def full(): Long = {
      val it = RowKernel.process(rows.iterator, dicts, emitDropped = false)
      var acc = 0L
      while (it.hasNext) { it.next(); acc += 1 }
      acc
    }
    def timed(f: () => Long): Cost = {
      val a0 = tmx.getCurrentThreadAllocatedBytes
      val t0 = System.nanoTime()
      f()
      Cost((System.nanoTime() - t0).toDouble, (tmx.getCurrentThreadAllocatedBytes - a0).toDouble)
    }
    val phases = Seq[() => Long](() => parse(), () => parseEnrich(), () => full())
    (1 to 2).foreach(_ => phases.foreach(timed)) // warm-up
    val samples = (1 to passes).map(_ => phases.map(timed))
    // a layer's cost is the median over passes of the difference between
    // adjacent phases of the same pass, which cancels drift between passes
    def layer(phase: Int): Cost = {
      def d(f: Cost => Double) = Stats.median(samples.map(s =>
        f(s(phase)) - (if (phase == 0) 0.0 else f(s(phase - 1))))) / n
      Cost(d(_.ns), d(_.allocB))
    }
    Layers(n, layer(0), layer(1), layer(2))
  }
}
