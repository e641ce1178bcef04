package ftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.core.{ForgetParams, ForgetTable}
import graft.sources.StateStore

/** `ft_serve`: one client in a closed loop against a seeded store.
  *
  * The store holds [[NDists]] distributions whose size falls off with
  * rank (hundreds of bins for the head, a handful for the tail), saved
  * once in set-up with `StateStore.save`. The client then issues point
  * reads (`get`, single-dist `topK`, single-dist `dist` on
  * `StateStore.loadDist`) and increment writes (`ForgetTable.merged`
  * then `StateStore.upsertDistributions`), picking distributions by
  * Zipf popularity, plus a report: the [[Reports]] queries from
  * `SparkEntry.queries`. The loop runs whole [[Cycle]]s, so every run
  * has the same mix of operations. Every response is collected and
  * compared with [[Model]], a plain-Scala copy of the store (after the
  * loop the whole stored state is compared with it too); every report
  * with its recorded fingerprint.
  */
object Serve {
  final val NDists = 20000
  final val T0 = 1700000000L
  final val Params = ForgetParams(rate = 0.002, nowEpoch = T0 + 1800)
  final val StoreRate = 0.5
  final val TopK = 10
  final val WriteDists = 8
  final val WriteIncrs = 12
  /** One cycle of the closed loop: three point reads, a write, a report. */
  final val Cycle = Seq("get", "topk", "dist", "write", "report")

  /** Latency class of an op kind: the three point reads share one. */
  def latencyClass(kind: String): String =
    if (kind == "write" || kind == "report") kind else "read"

  def name(d: Int): String = f"d$d%05d"

  /** Bins of distribution `d`: the head holds hundreds, the tail a few. */
  def binsOf(seed: Long, d: Int): Array[(String, Long)] = {
    val nb = 3 + (700.0 / math.pow(d + 1, 0.55)).toInt
    Array.tabulate(nb)(j => (s"b$j", 1L + (60.0 * math.pow(Gen.unit(seed, d, j), 3)).toLong))
  }

  /** Last write time of distribution `d`, up to an hour before T0. */
  def tOf(seed: Long, d: Int): Long = T0 - (Gen.mix(seed * 31 + d) >>> 1) % 3600

  def run(spark: SparkSession, tr: Tracer, a: Args, runDir: String, t0Ms: Long): Result = {
    import spark.implicits._
    val sc = spark.sparkContext
    val seed = a.seed

    // ---- set-up: build the store
    val dir = s"$runDir/store"
    tr.span("sources.save") {
      val counts = sc.parallelize(0 until NDists, 16)
        .flatMap(d => binsOf(seed, d).map { case (b, c) => (name(d), b, c) })
        .toDF("dist", "bin", "count")
      val meta = sc.parallelize(0 until NDists, 4)
        .map(d => (name(d), binsOf(seed, d).map(_._2).sum, tOf(seed, d), StoreRate))
        .toDF("dist", "z", "t", "rate")
      StateStore.save(new ForgetTable(counts, meta), dir)
    }
    val model = Model.build(seed)
    val rnd = new scala.util.Random(seed)
    val zipf = new Gen.Zipf(NDists, 1.0)
    val mismatches = mutable.ArrayBuffer.empty[String]
    var dropRow = a.fault.contains("response")

    def check[T](what: String, got: Seq[T], exp: Seq[T]): Unit = {
      val g = if (dropRow && got.nonEmpty) { dropRow = false; got.tail } else got
      if (g != exp)
        mismatches += s"$what: got ${g.size} rows ${g.take(3).mkString(" ")}, " +
          s"expected ${exp.size} rows ${exp.take(3).mkString(" ")}"
    }

    def read(kind: String, label: String): Unit = {
      val d = name(zipf.next(rnd))
      val ft = tr.span("sources.loadDist")(StateStore.loadDist(spark, dir, d))
      kind match {
        case "get" =>
          val known = model.counts(d).keys.toSeq.sorted
          val bins = (Seq.fill(2)(known(rnd.nextInt(known.size))) :+ "absent").distinct
          val df = tr.span("core.get")(ft.get(d, bins, Params))
          val rows = tr.span("force")(df.collect())
          check(s"$label get $d", rows.toSeq.map(r4), model.get(d, bins))
        case "topk" =>
          val df = tr.span("core.topK")(ft.topK(TopK, Params, Some(d)))
          val rows = tr.span("force")(df.collect())
          check(s"$label topK $d", rows.toSeq.map(r5), model.topK(TopK, d))
        case _ =>
          val df = tr.span("core.dist")(ft.dist(Params, Some(d)))
          val rows = tr.span("force")(df.collect())
          check(s"$label dist $d", rows.toSeq.map(r4), model.dist(d))
      }
    }

    def write(i: Int): Unit = {
      val ds = Iterator.continually(name(zipf.next(rnd))).distinct.take(WriteDists).toSeq
      val incrs = ds.flatMap { d =>
        val known = model.counts(d).keys.toSeq.sorted
        Seq.fill(WriteIncrs) {
          val bin = if (rnd.nextInt(5) == 0) s"n${rnd.nextInt(50)}" else known(rnd.nextInt(known.size))
          (d, bin, 1L + rnd.nextInt(3), T0 + 900 + i)
        }
      }
      val incrDf = incrs.toDF("dist", "bin", "n", "t")
      val ft = tr.span("sources.load")(StateStore.load(spark, dir))
      val touched = new ForgetTable(ft.counts.filter(col("dist").isin(ds: _*)),
        ft.meta.filter(col("dist").isin(ds: _*)))
      val merged = tr.span("core.merged")(touched.merged(incrDf))
      // the snapshot reads the store it replaces, so the client
      // materializes it before handing it to the upsert
      val snaps = tr.span("force")(merged.counts
        .join(merged.meta.select("dist", "z", "t"), "dist")
        .select("dist", "bin", "count", "z", "t")
        .localCheckpoint(true))
      tr.span("sources.upsert")(StateStore.upsertDistributions(spark, dir, snaps))
      model.increment(incrs.map { case (d, b, n, _) => (d, b, n) })
    }

    /** Untimed end-of-run check: the whole stored state equals the model. */
    def verifyStore(): Unit = {
      val ft = tr.span("sources.load")(StateStore.load(spark, dir))
      val counts = ft.counts.collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      val expCounts = model.counts.toSeq.flatMap { case (d, m) => m.map { case (b, c) => ((d, b), c) } }.toMap
      if (counts != expCounts)
        mismatches += s"store counts: ${(counts.toSet diff expCounts.toSet).take(3)} " +
          s"differ from model ${(expCounts.toSet diff counts.toSet).take(3)}"
      val meta = ft.meta.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val expMeta = model.names.map(d => d -> (model.z(d), model.t(d))).toMap
      if (meta != expMeta)
        mismatches += s"store meta: ${(meta.toSet diff expMeta.toSet).take(3)} " +
          s"differ from model ${(expMeta.toSet diff meta.toSet).take(3)}"
    }

    val expected = {
      val fps = Reports.read(s"${a.dataDir}/fingerprints.tsv")
      val n = Reports.Names.head
      if (a.fault.contains("fingerprint")) fps.updated(n, (fps(n)._1, fps(n)._2 ^ 1L)) else fps
    }

    def report(label: String): Unit = Reports.Names.foreach { n =>
      val df = tr.span("queries.build")(SparkEntry.queries(n)(spark, a.dataDir))
      val fp = tr.span("queries.force")(Reports.fingerprint(df))
      check(s"$label $n", Seq(fp), expected.get(n).toSeq)
    }

    def step(kind: String, i: Int, label: String): Unit = kind match {
      case "write" => write(i)
      case "report" => report(label)
      case k => read(k, label)
    }

    // ---- warm-up: one op of each kind, untimed but checked
    Seq("get", "topk", "dist", "write", "report").foreach(k => step(k, -1, s"warm-up $k"))
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3

    // ---- timed closed loop, in whole cycles
    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var attempted, failed = 0
    val loopStart = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - loopStart) / 1e9 < a.seconds || i % Cycle.size != 0) {
      val kind = Cycle(i % Cycle.size)
      attempted += 1
      try {
        val (_, ms) = tr.op(kind)(step(kind, i, s"op $i"))
        lat.getOrElseUpdate(latencyClass(kind), mutable.ArrayBuffer.empty) += ms
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"ftbench: op $i $kind failed: $e")
      }
      i += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    verifyStore()
    def p50(k: String) = Stats.median(lat.getOrElse(k, Nil))
    Result(attempted, failed, mismatches.toSeq,
      Map("setup_s" -> setupS, "read_ms" -> p50("read"), "write_ms" -> p50("write"),
        "ops_per_s" -> (attempted - failed) / loopS),
      Map.empty,
      Map("report_ms" -> p50("report")) ++
        lat.map { case (k, v) => s"${k}s" -> v.size.toDouble })
  }

  private def r4(r: Row) = (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))
  private def r5(r: Row) = (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4))

  /** Plain-Scala reference of the store and of the read semantics the
    * engine documents: Expected-mode decay `l = floor(rate * dt)`,
    * clamped to the bin count (prune), against meta's stored `t`.
    */
  final class Model(val counts: mutable.Map[String, mutable.Map[String, Long]],
                    val z: mutable.Map[String, Long], val t: Map[String, Long]) {
    val names: Seq[String] = counts.keys.toSeq.sorted

    private def decay(count: Long, d: String): Long = {
      val raw = if (count < 1) 0L
        else math.floor(Params.rate * (Params.nowEpoch - t(d)).toDouble).toLong
      if (raw >= count) count else raw
    }
    private def p(c: Long, zz: Long): Double = if (zz == 0L) 0.0 else c.toDouble / zz.toDouble

    def increment(incrs: Seq[(String, String, Long)]): Unit = incrs.foreach { case (d, b, n) =>
      val m = counts(d)
      m(b) = m.getOrElse(b, 0L) + n
      z(d) += n
    }

    def get(d: String, bins: Seq[String]): Seq[(String, String, Long, Double)] = {
      val sel = bins.map(b => b -> counts(d).getOrElse(b, 0L))
      val zAdj = z(d) - sel.map { case (_, c) => decay(c, d) }.sum
      sel.map { case (b, c) => val nc = c - decay(c, d); (d, b, nc, p(nc, zAdj)) }.sortBy(_._2)
    }

    def topK(k: Int, d: String): Seq[(String, Long, String, Long, Double)] = {
      val head = counts(d).toSeq
        .sortBy { case (b, c) => (-c, b) }(Ordering.Tuple2(Ordering.Long, Ordering.String.reverse))
        .take(k)
      val zAdj = z(d) - head.map { case (_, c) => decay(c, d) }.sum
      head.zipWithIndex.map { case ((b, c), r) =>
        val nc = c - decay(c, d); (d, r + 1L, b, nc, p(nc, zAdj))
      }
    }

    def dist(d: String): Seq[(String, String, Long, Double)] = {
      val dec = counts(d).toSeq.map { case (b, c) => b -> (c - decay(c, d)) }
      val z2 = dec.map(_._2).sum
      dec.sortBy(_._1).map { case (b, nc) => (d, b, nc, p(nc, z2)) }
    }
  }

  object Model {
    def build(seed: Long): Model = {
      val counts = mutable.HashMap.empty[String, mutable.Map[String, Long]]
      val z = mutable.HashMap.empty[String, Long]
      val t = Map.newBuilder[String, Long]
      (0 until NDists).foreach { d =>
        val bins = binsOf(seed, d)
        counts(name(d)) = mutable.HashMap(bins.toSeq: _*)
        z(name(d)) = bins.map(_._2).sum
        t += name(d) -> tOf(seed, d)
      }
      new Model(counts, z, t.result())
    }
  }
}
