package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.cdc.{CdcStream, MergeApply, StreamFiles, WriteStrategy}
import graft.cdc.CdcStream.StreamConfig
import graft.gen.ChangeGen
import graft.gen.ChangeGen.GenConfig
import graft.lake.LakeTable
import graft.model.Model

/** One workload's shape. Sizes are fixed per workload, not per host, so a
  * run's work is the same on every commit it compares.
  *
  * @param epochs   stream chunk files (one per trigger) or direct-apply
  *                 slices; one timed round replays all of them into a
  *                 fresh table
  */
final case class Spec(gen: GenConfig, epochs: Int, stream: Boolean, strategy: WriteStrategy)

object Spec {
  val buckets = 32

  def apply(name: String, seed: Long): Spec = name match {
    // GenConfig defaults: 200 convs × 50 turns, 5 hot convs take 30% of
    // events, 2% duplicates, out-of-order window 64, schema v2 from 60%.
    // Events far outnumber keys: each trigger is mostly head aggregate,
    // resolve shuffle and fixed per-trigger cost; the table stays ~10k rows.
    case "hot_stream" =>
      Spec(GenConfig(numEvents = 150000L, seed = seed), epochs = 3, stream = true,
        WriteStrategy.CopyOnWrite)
    // 200,000 convs × 50 turns (10M-key space): most events hit new keys.
    // Merge-on-read appends cost the same every epoch; the read mix then
    // pays the LWW resolve over the delta stack.
    case "wide_mor_reads" =>
      Spec(GenConfig(numConvs = 200000, numEvents = 300000L, seed = seed), epochs = 3,
        stream = false, WriteStrategy.MergeOnRead)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** @param trace 0 = untraced; 1 = four rounds, untraced-traced-traced-
  *              untraced, so the warm-up's residual trend cancels out of the
  *              tracing overhead; 2 = every round traced
  */
final case class Args(workload: String, cores: Int, seed: Long, seconds: Double,
    trace: Int, work: String, inputs: String, out: String, generate: Boolean,
    reads: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("cores").toInt, m("seed").toLong, m("seconds").toDouble,
      m("trace").toInt, m("work"), m("inputs"), m("out"), m("generate") == "1",
      m("reads") == "1")
  }
}

/** Drives the engine through its public API only and times every call
  * from outside. One process = one Spark session at `local[cores]`: set-up
  * (session, input generation, warm-up), timed replay rounds, then —
  * untimed — the oracle, the read mix (`--reads 1`) and the output checks.
  * Writes one JSON record of raw measurements; run.py turns records into
  * metrics.
  */
object Harness {
  val publicCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spec = Spec(a.workload, a.seed)
    val spans = new Spans(s"${a.workload}-${a.seed}-c${a.cores}")
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores, "trace" -> a.trace,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime.toDouble,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jvm_processors" -> Runtime.getRuntime.availableProcessors)
    val ops = new Ops
    val workload = spans.open("workload", "workload" -> a.workload, "cores" -> a.cores)

    val spark = spans("setup.session")(Sessions.local(a.cores, appName = "perfbench"))
    spark.sparkContext.setLogLevel("ERROR")
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val in = new Inputs(spark, spec, a.inputs)
    if (a.generate) spans("setup.gen")(in.generate())

    val runner = new Runner(spark, spec, in, spans, progress, ops, a.work)
    val warm = spans("setup.warm")(runner.warmUp())
    rec("warm_passes_s") = warm

    // Timed rounds: whole replays into fresh tables until `seconds` have
    // passed (at least one round; four under --trace 1).
    val tracer = if (a.trace > 0) Some(new Tracer(spark)) else None
    val host = new HostSample
    val rounds = mutable.ArrayBuffer[Round]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (rounds.isEmpty || elapsed < a.seconds || (a.trace == 1 && rounds.size < 4)) {
      val traced = a.trace == 2 || (a.trace == 1 && (rounds.size % 4 == 1 || rounds.size % 4 == 2))
      if (traced) tracer.foreach(_.start())
      rounds += runner.round(rounds.size, traced)
      if (traced) tracer.foreach(_.stop())
    }
    rec("timed_s") = elapsed
    rec("host") = host.finish()
    rec("rounds") = rounds.map(_.record)

    val last = rounds.last
    val table = LakeTable.load(spark, last.root)
    rec("table") = runner.tableFacts(table, last, a.trace > 0)
    val oracle = spans("check.oracle")(runner.oracle)
    if (a.reads) {
      tracer.foreach(_.start())
      rec("reads") = runner.readMix(table, last, oracle)
      tracer.foreach(_.stop())
    }
    spans("check")(runner.check(table, last, oracle))

    spans.close(workload)
    rec("spans") = spans.records
    tracer.foreach { t =>
      rec("actions") = t.actions.toArray.toSeq
      rec("stages") = t.stages.toArray.toSeq
    }
    rec("attempted") = ops.attempted
    rec("failed") = ops.failed
    rec("checks") = ops.checks
    spark.stop()
    Json.write(a.out, rec)
  }
}

/** Operation accounting: epochs, reads, maintenance calls and oracle
  * checks each count as one attempt; an exception or a wrong result
  * counts as a failure.
  */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer[Map[String, Any]]()

  def attempt[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f) catch {
      case e: Exception =>
        failed += 1
        checks += Map("name" -> what, "ok" -> false, "detail" -> e.toString.take(500))
        None
    }
  }

  def check(name: String, ok: Boolean, detail: String): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  }
}

/** Input change logs, generated from the seed in set-up and written as
  * parquet: the engine only ever sees these files.
  */
final class Inputs(spark: SparkSession, spec: Spec, dir: String) {
  def events: String = s"$dir/events"
  def slice(e: Int): String = s"$dir/slices/epoch=$e"
  private def warm: String = s"$dir/warm"

  /** What a timed round replays: the chunk directory a stream tails, or the
    * slices applied in order.
    */
  def timedInputs: Seq[String] = if (spec.stream) Seq(events) else inputFiles

  /** What a warm-up pass replays. Warm-up batches hold one event in `epochs`
    * (by LSN): batch 0 of the first epoch, batch 1 of the rest. The first
    * pass applies both, so it takes the timed rounds' code paths in their
    * order — a schema-v1 table first, then the evolution to v2. Later passes,
    * the ones compared for settling, apply batch 1 only.
    */
  def warmInputs(first: Boolean): Seq[String] =
    if (spec.stream) Seq(if (first) s"$warm/first" else s"$warm/rest")
    else if (first) Seq(s"$warm/b0", s"$warm/b1") else Seq(s"$warm/b1")

  private def sampled(paths: Seq[String]): DataFrame =
    spark.read.schema(Model.changeEventSchema).parquet(paths: _*)
      .filter(col("lsn") % spec.epochs === 0)
  private def inputFiles: Seq[String] =
    if (spec.stream) chunkFiles.map(f => s"$events/$f") else (0 until spec.epochs).map(slice)
  private lazy val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  def generate(): Unit = {
    val cfg = spec.gen
    if (spec.stream) {
      val n = StreamFiles.writeChunkedOrdered(ChangeGen.emittedKeyed(spark, cfg), events,
        spec.epochs, Seq("k", "i"), "e")
      require(n == spec.epochs, s"expected ${spec.epochs} chunk files, got $n")
    } else {
      // Contiguous generator-order slices, one per epoch, in one job.
      import spark.implicits._
      val per = (cfg.totalRows + spec.epochs - 1) / spec.epochs
      spark.range(0, cfg.totalRows).as[Long].map(i => (i / per, ChangeGen.rowAt(cfg, i)))
        .toDF("epoch", "e").select(col("epoch"), col("e.*"))
        .write.mode("overwrite").partitionBy("epoch").parquet(s"$dir/slices")
    }
    val (head, rest) = inputFiles.splitAt(1)
    if (spec.stream) {
      StreamFiles.writeFlat(sampled(head), s"$warm/first", "warm-0")
      StreamFiles.writeFlat(sampled(rest), s"$warm/first", "warm-1")
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(s"$warm/first/warm-1.parquet"), fs,
        new Path(s"$warm/rest/warm-1.parquet"), false, spark.sessionState.newHadoopConf())
    } else {
      sampled(head).write.mode("overwrite").parquet(s"$warm/b0")
      sampled(rest).write.mode("overwrite").parquet(s"$warm/b1")
    }
  }

  def chunkFiles: Seq[String] =
    fs.listStatus(new Path(events)).map(_.getPath.getName).filter(_.endsWith(".parquet")).sorted.toSeq

  def read(path: String): DataFrame = spark.read.schema(Model.changeEventSchema).parquet(path)

  def bytes: Long = fs.getContentSummary(new Path(if (spec.stream) events else s"$dir/slices")).getLength
}

final case class Epoch(epoch: Long, events: Long, deduped: Long, wallS: Double,
    t0: Double, t1: Double, snapshot: Long)

final case class Round(index: Int, traced: Boolean, root: String, epochs: Seq[Epoch],
    wallS: Double) {
  def record: Map[String, Any] = Map("index" -> index, "traced" -> traced, "wall_s" -> wallS,
    "epochs" -> epochs.map(e => Map("epoch" -> e.epoch, "events" -> e.events,
      "deduped" -> e.deduped, "wall_s" -> e.wallS, "t0" -> e.t0, "t1" -> e.t1,
      "snapshot" -> e.snapshot)))
}

final class Runner(spark: SparkSession, spec: Spec, in: Inputs, spans: Spans,
    progress: ProgressLog, ops: Ops, work: String) {
  import spark.implicits._

  private val fs = new Path(work).getFileSystem(spark.sessionState.newHadoopConf())

  /** Replay `inputs` (see [[Inputs.timedInputs]]) into a fresh table under `dir`. */
  private def replay(dir: String, inputs: Seq[String]): Seq[Epoch] = {
    fs.delete(new Path(dir), true)
    val table = LakeTable.create(spark, s"$dir/table", schemaVer = 1, numBuckets = Spec.buckets)
    val cp = s"$dir/cp"
    if (spec.stream) {
      progress.drain()
      val s = spans.open("CdcStream.runAvailable")
      ops.attempt("CdcStream.runAvailable")(CdcStream.runAvailable(spark, table, inputs.head, cp,
        StreamConfig(maxFilesPerTrigger = 1, strategy = spec.strategy)))
      spans.close(s)
      org.apache.spark.sql.SparkAccess.drain(spark.sparkContext)
      // Progress `numInputRows` counts every scan of the batch, so the
      // applied event counts come from the engine's own _metrics rows
      // (checked against the generated input in `check`).
      val applied = CdcStream.metrics(spark, table.root)
        .select("epoch_id", "input_events", "deduped_keys", "snapshot_id").as[(Long, Long, Long, Long)]
        .collect().map(r => r._1 -> r).toMap
      val triggers = progress.drain().filter(p => applied.contains(p("batch").asInstanceOf[Long]))
        .map { p =>
          val b = p("batch").asInstanceOf[Long]
          val d = p("duration_ms").asInstanceOf[Map[String, Long]]
          val t0 = p("t0").asInstanceOf[Double]
          val t1 = t0 + d.getOrElse("triggerExecution", 0L)
          spans.add("CdcStream.trigger", s, t0, t1, "batch" -> b, "duration_ms" -> d)
          val (_, events, deduped, snap) = applied(b)
          Epoch(b, events, deduped, (t1 - t0) / 1000.0, t0, t1, snap)
        }.sortBy(_.epoch)
      ops.attempted += triggers.size
      triggers
    } else {
      val epochs = inputs.zipWithIndex.flatMap { case (path, e) =>
        val df = in.read(path)
        val s = spans.open("MergeApply.applyBatch", "epoch" -> e)
        val st = ops.attempt(s"epoch $e")(MergeApply.applyBatch(table, df, e.toLong,
          strategy = spec.strategy))
        spans.close(s)
        st.filter(_.applied).map(b =>
          Epoch(e, b.inputEvents, b.dedupedKeys, spans.seconds(s), s.t0, s.t1, b.snapshotId))
      }
      if (epochs.size < inputs.size)
        ops.check("all epochs applied", ok = false, s"${epochs.size} of ${inputs.size}")
      epochs
    }
  }

  /** Throwaway warm-up passes until the pass time settles: after the first
    * (larger) pass, until a pass is within 20% of the one before; three or
    * four passes.
    */
  def warmUp(): Seq[Double] = {
    val passes = mutable.ArrayBuffer[Double]()
    def settled = passes.size >= 3 &&
      math.abs(passes.last - passes(passes.size - 2)) <= 0.2 * passes(passes.size - 2)
    while (!settled && passes.size < 4) {
      val t0 = System.nanoTime()
      replay(s"$work/warm", in.warmInputs(first = passes.isEmpty))
      passes += (System.nanoTime() - t0) / 1e9
    }
    fs.delete(new Path(s"$work/warm"), true)
    passes.toSeq
  }

  def round(i: Int, traced: Boolean): Round = {
    val dir = s"$work/round-$i"
    // keep only the previous round: its table is the one facts/reads use
    if (i >= 2) fs.delete(new Path(s"$work/round-${i - 2}"), true)
    val s = spans.open("round", "round" -> i, "traced" -> traced)
    val epochs = replay(dir, in.timedInputs)
    spans.close(s)
    Round(i, traced, s"$dir/table", epochs, spans.seconds(s))
  }

  private def sizeOf(p: String): Long = {
    val path = new Path(p)
    if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
  }

  /** Sampled first-key values: conversation ids drawn with the seed. */
  private def sampleKeys(n: Int, salt: Long): Seq[String] = {
    val r = new Random(spec.gen.seed * 31 + salt)
    Seq.fill(n)(f"conv-${r.nextInt(spec.gen.numConvs)}%06d")
  }

  /** Table-level facts after the timed replay: the write_amp inputs for
    * every run, plus per-epoch file diffs and layout counts when traced.
    */
  def tableFacts(table: LakeTable, last: Round, traced: Boolean): Map[String, Any] = {
    val cur = table.current
    val base = Map[String, Any](
      "data_bytes" -> sizeOf(s"${table.root}/data"),
      "input_bytes" -> in.bytes,
      "files" -> cur.files.size,
      "buckets" -> cur.numBuckets)
    if (!traced) return base
    val meta = new Path(table.root, "_meta")
    val snapName = {
      val in = fs.open(new Path(meta, "_current"))
      try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
    }
    val sizes = mutable.Map[String, Long]()
    val it = fs.listFiles(new Path(table.root, "data"), true)
    while (it.hasNext) { val f = it.next(); sizes(f.getPath.toUri.getPath) = f.getLen }
    def len(p: String) = sizes.getOrElse(new Path(p).toUri.getPath,
      sizes.getOrElse(new Path(table.root, p).toUri.getPath, 0L))
    val snaps = table.snapshotIds.sorted.map(table.snapshot)
    val perEpoch = snaps.sliding(2).collect { case Seq(p, c) if !c.maint && c.epochId >= 0 =>
      val old = p.files.map(_.path).toSet
      val added = c.files.filterNot(f => old.contains(f.path))
      Map("epoch" -> c.epochId, "files" -> added.size, "rows" -> added.map(_.rows).sum,
        "bytes" -> added.map(f => len(f.path)).sum)
    }.toSeq
    base ++ Map(
      "manifest_bytes" -> fs.getFileStatus(new Path(meta, snapName)).getLen,
      "point_files_opened" -> sampleKeys(50, 7).map(k => table.filesForKey(k).size),
      "epoch_files" -> perEpoch)
  }

  private def timeS[A](name: String, attrs: (String, Any)*)(f: => A): (Double, Option[A]) = {
    val s = spans.open(name, attrs: _*)
    val r = ops.attempt(name)(f)
    spans.close(s)
    (spans.seconds(s), r)
  }

  /** The reference result: `ChangeGen.oracleDf` collected once, untimed. */
  def oracle: Array[Row] =
    ChangeGen.oracleDf(spark, spec.gen).toDF().select(Harness.publicCols.map(col): _*).collect()

  /** Read mix over the replayed table, then a folding compaction. Every
    * read's result is checked against the oracle restricted to its key or
    * range, outside the timed call.
    */
  def readMix(table: LakeTable, last: Round, oracle: Array[Row]): Map[String, Any] = {
    val byKey = oracle.groupBy(_.getString(0))
    // The replay warmed the write path only: warm the read path untimed.
    sampleKeys(10, 3).foreach(k => ops.attempt("warm readKey")(table.readKey(k).collect()))
    ops.attempt("warm readKeyRange")(table.readKeyRange("conv-000000", "conv-000001").collect())
    // 100 reads: the p90 has ten samples beyond it
    val point = sampleKeys(100, 1).map { k =>
      val (s, rows) = timeS("LakeTable.readKey", "key" -> k)(
        table.readKey(k).select(Harness.publicCols.map(col): _*).collect())
      rows.foreach(r => ops.check(s"readKey($k)",
        sameRows(r, byKey.getOrElse(k, Array.empty[Row])), s"${r.length} rows"))
      s * 1000.0
    }
    val span = math.max(1, spec.gen.numConvs / 1000)
    val rangeS = sampleKeys(5, 2).map { lo =>
      val hi = f"conv-${(lo.drop(5).toInt + span).min(spec.gen.numConvs - 1)}%06d"
      val (s, rows) = timeS("LakeTable.readKeyRange", "lo" -> lo, "hi" -> hi)(
        table.readKeyRange(lo, hi).select(Harness.publicCols.map(col): _*).collect())
      val want = oracle.filter { r => val c = r.getString(0); c >= lo && c <= hi }
      rows.foreach(r => ops.check(s"readKeyRange($lo,$hi)", sameRows(r, want), s"${r.length} rows"))
      s
    }
    val mid = last.epochs(last.epochs.size / 2 - 1).snapshot
    val (changes, _) =
      timeS("LakeTable.readChangesSince")(table.readChangesSince(mid).count())
    val (scan, n) = timeS("LakeTable.read")(table.read().count())
    n.foreach(got => ops.check("read().count", got == oracle.length, s"$got vs ${oracle.length}"))
    val filesBefore = table.current.files.size
    val (compactS, _) = timeS("LakeTable.compact")(table.compact(foldDeltas = true))
    Map("point_read_ms" -> point, "range_read_s" -> rangeS, "changes_since_s" -> Seq(changes),
      "scan_s" -> Seq(scan), "scan_rows" -> oracle.length, "compact_s" -> compactS,
      "files_before_compact" -> filesBefore, "files_after_compact" -> table.current.files.size)
  }

  private def sameRows(got: Array[Row], want: Array[Row]): Boolean = {
    def norm(rs: Array[Row]) = rs.map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted.toSeq
    norm(got) == norm(want)
  }

  /** Untimed output checks on the last round's table. */
  def check(table: LakeTable, last: Round, oracle: Array[Row]): Unit = {
    ops.attempt("oracle") {
      val got = table.read().select(Harness.publicCols.map(col): _*).collect()
      ops.check("table = oracle (all public columns, both directions)", sameRows(got, oracle),
        s"${got.length} rows vs ${oracle.length}")
    }
    if (spec.stream) ops.attempt("channels") {
      val triggers = last.epochs.size
      val m = CdcStream.metrics(spark, table.root)
        .select("epoch_id", "input_events").as[(Long, Long)].collect()
      val l = CdcStream.lineage(spark, table.root).select("epoch_id", "source_file")
        .as[(Long, String)].collect()
      def onePer(ids: Seq[Long]) = ids.size == triggers && ids.distinct.size == triggers
      ops.check("one _metrics row per trigger", onePer(m.map(_._1).toSeq), s"${m.length} rows")
      ops.check("one _lineage row per trigger", onePer(l.map(_._1).toSeq), s"${l.length} rows")
      val sources = l.map(r => new Path(r._2).getName).toSet
      ops.check("lineage sources = chunk files", sources == in.chunkFiles.toSet,
        s"${sources.size} sources")
      val events = m.map(_._2).sum
      ops.check("metrics input_events = generated events", events == spec.gen.totalRows,
        s"$events vs ${spec.gen.totalRows}")
    }
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(path: String, v: Any): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, mapper.writeValueAsString(v))
  }
}
