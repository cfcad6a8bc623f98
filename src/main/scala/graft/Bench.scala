package graft

import java.nio.file.{Files, Paths}

/** Benchmark main — runs the headline queries on SPARK_GRAFT_SF_DIR,
  * prints one JSON line for the driver (BENCH_r{N}.json) AND writes the
  * same line to SPARK_GRAFT_BENCH_OUT (default `bench_result.json` in
  * the cwd) so the numbers survive sbt's log noise.
  *
  * Each query is forced with a `noop`-format write: the full plan
  * executes distributed (unlike `count()`, which lets Catalyst drop
  * projections) and nothing funnels to the driver.
  *
  * Measurement discipline (round-2 verdict item 4):
  *  - one un-timed warm-up pass over every query (JIT/codegen warmth);
  *  - then SPARK_GRAFT_BENCH_N (default 3) timed samples per query,
  *    with `spark.catalog.clearCache()` before EVERY sample — so each
  *    query pays its own full cold-data cost, and the shared dedup
  *    signature cache can never smear one query's build cost into
  *    another's number (round-2 advice item 5);
  *  - reported per-query value = median of the samples (upper median
  *    for even n), total = sum of medians.
  *
  * Failures are NOT swallowed (round-1 verdict): a query that throws is
  * reported with an `"err"` entry and a null time, never a rosy
  * near-zero duration.
  */
object Bench {

  /** Rows per generated backlog file — shared by the Simulator config
    * and the progress-buffer sizing so the two cannot desynchronize.
    */
  private val RowsPerFile = 5000

  /** recentProgress is a ring buffer capped at
    * spark.sql.streaming.numRecentProgressUpdates (default 100): a
    * large backlog would silently truncate the per-batch stats to the
    * last 100 batches. Size the buffer to the backlog up front.
    */
  private def sizeProgressBuffer(spark: org.apache.spark.sql.SparkSession,
      expectedBatches: Int): Unit =
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      math.max(200, expectedBatches + 16).toString)

  /** Per-query chronological (inputRows, triggerExecution ms) pairs
    * over the finished queries' progress (durationMs is a java Map — a
    * missing key would NPE-unbox; such entries are skipped, never
    * abort the report).
    */
  private def batchStats(
      queries: Seq[org.apache.spark.sql.streaming.StreamingQuery]): Seq[Seq[(Long, Double)]] =
    queries.map(_.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .flatMap(p => Option(p.durationMs.get("triggerExecution"))
        .map(ms => p.numInputRows -> ms.toDouble)))

  /** One streaming-block JSON fragment. `rows_per_sec` is end-to-end
    * (includes stream startup — the honest wall-clock number);
    * `rows_per_sec_steady` drops each query's FIRST micro-batch and
    * divides the remaining input rows by their summed triggerExecution
    * time — the sustained mid-run rate a long-lived deployment sees
    * (round-5 verdict item 6: at 50 k rows startup is ~25% of
    * elapsed, underselling the pipeline by that margin). Falls back
    * to the end-to-end rate when a run is too short to have steady
    * batches.
    */
  private def streamJson(mode: String, rows: Long, sec: Double,
      queries: Seq[org.apache.spark.sql.streaming.StreamingQuery]): String = {
    val perQuery = batchStats(queries)
    val batchMs = perQuery.flatten.map(_._2).sorted
    val p50 = if (batchMs.isEmpty) 0.0 else batchMs(batchMs.length / 2)
    val steady = perQuery.map(_.drop(1)).flatten
    val steadyRate =
      if (steady.isEmpty || steady.map(_._2).sum <= 0.0) rows / sec
      else steady.map(_._1).sum / (steady.map(_._2).sum / 1000.0)
    s"""{"mode":"$mode","rows":$rows""" +
      s""","elapsed_sec":$sec,"rows_per_sec":${rows / sec}""" +
      s""","rows_per_sec_steady":$steadyRate""" +
      s""","batches":${batchMs.length},"batch_ms_p50":$p50""" +
      s""","batch_ms_max":${batchMs.lastOption.getOrElse(0.0)}}"""
  }

  /** JSON string escape (backslash, quote, all control chars) — ONE
    * definition for every string this file interpolates into the
    * bench JSON, including map KEYS (env-supplied query names must not
    * be able to produce malformed bench_result.json).
    */
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }

  /** `"name":value` JSON members for per-query results (null = failed)
    * and the matching `errors` members — shared by the batch loop and
    * the stress block.
    */
  private def resultJson(results: Seq[(String, Either[String, Double])])
      : (String, String, Int) = {
    val qs = results.map {
      case (k, Right(t)) => "\"" + esc(k) + "\":" + t
      case (k, Left(_))  => "\"" + esc(k) + "\":null"
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(e)) =>
      "\"" + esc(k) + "\":\"" + esc(e) + "\"" }
    val errJson = if (errs.isEmpty) "" else errs.mkString(""","errors":{""", ",", "}")
    (qs, errJson, errs.size)
  }

  /** Bench-local scratch cleanup; closes the walk stream. */
  private def deleteRecursively(base: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(base)
    val paths = try walk.iterator().asScala.toSeq finally walk.close()
    paths.reverseIterator.foreach(p => { Files.deleteIfExists(p); () })
  }

  /** Streaming sample count — round-7 verdict item 3: the streaming
    * blocks were n=1 (no spread) while every batch tier had grown
    * median-of-n discipline, which left a −15% docs move
    * unattributable. Every streaming block now takes this many
    * samples over the SAME backlog (fresh checkpoint dir per sample —
    * AvailableNow over a used checkpoint would no-op) and reports the
    * median run plus all chronological rates.
    */
  private def nStreamSamples: Int =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_N", "3").toInt

  /** Run `sample(i)` n times and emit the MEDIAN run's [[streamJson]]
    * (upper median by elapsed sec — rows are constant across samples)
    * extended with `n` and the chronological `rows_per_sec_samples`
    * array, so a future drift is attributable at a glance (monotone
    * decay = accumulating state; lone outlier = run jitter).
    */
  private def sampledStreamJson(mode: String, rows: Long, n: Int)(
      sample: Int => (Double, Seq[org.apache.spark.sql.streaming.StreamingQuery]))
      : String = {
    val runs = (1 to n).map(sample)
    val med = runs.sortBy(_._1).apply(runs.length / 2)
    val rates = runs.map(r => rows / r._1)
    streamJson(mode, rows, med._1, med._2).dropRight(1) +
      s""","n":$n,"rows_per_sec_samples":[${rates.mkString(",")}]}"""
  }

  /** Streaming throughput measurement — the number the reference never
    * published (its simulator feeds ~0.3-1 rows/s; spark_streaming.py
    * itself was never benched). Drives the census Pipeline (fused
    * scale mode) with `Trigger.AvailableNow` over a generated backlog
    * of batch CSVs and reports end-to-end rows/s plus per-micro-batch
    * latency. `maxFilesPerTrigger` splits the backlog into several
    * bounded micro-batches so the per-batch numbers mean something.
    *
    * Returns the JSON object fragment; skip (SPARK_GRAFT_STREAM_SKIP)
    * and failure capture are main()'s wrapper contract, not this
    * function's — it throws on error.
    */
  def streamingBench(spark: org.apache.spark.sql.SparkSession): String = {
    import graft.stream.{Pipeline, PipelineConfig, Simulator}
    import org.apache.spark.sql.streaming.Trigger
    val rows = sys.env.getOrElse("SPARK_GRAFT_STREAM_ROWS", "200000").toInt
    val filesPerBatch = sys.env.getOrElse("SPARK_GRAFT_STREAM_FILES_PER_BATCH", "8").toInt
    val files = (rows + RowsPerFile - 1) / RowsPerFile
    sizeProgressBuffer(spark, (files + filesPerBatch - 1) / filesPerBatch)
    val base = Files.createTempDirectory("graft_stream_bench")
    try {
      val inputDir = s"$base/input"
      // deterministic backlog: fixed-size batch CSVs, fixed seed + clock
      val cfg = Simulator.Config(
        batchMin = RowsPerFile, batchMax = RowsPerFile, totalRows = rows,
        tickMillis = 0L)
      val written = Simulator.runLoop(inputDir, cfg,
        sleep = _ => (), clock = () => 1700000000L)
      sampledStreamJson("fused_available_now", written, nStreamSamples) { i =>
        val pipeline = new Pipeline(
          new graft.sink.ParquetSnapshotSink(s"$base/sink$i"),
          PipelineConfig(trigger = Trigger.AvailableNow(), fused = true,
            maxFilesPerTrigger = Some(filesPerBatch)))
        val t0 = System.nanoTime()
        val queries = pipeline.start(spark, inputDir, s"$base/ckpt$i")
        queries.foreach(_.awaitTermination())
        ((System.nanoTime() - t0) / 1e9, queries)
      }
    } finally deleteRecursively(base)
  }

  /** Document-ingest throughput: the training-data half's streaming
    * number, complementing the census pipeline's. Feeds COPIES× the
    * fixture documents (shifted ids, deterministic event-times; texts
    * repeat across copies so the watermark-bounded dedup state does
    * real work) through DocumentPipeline.ingest (enrich → quality gate
    * → streaming exact dedup) under Trigger.AvailableNow, and reports
    * rows/s over INPUT rows plus per-micro-batch latency. Throws on
    * error; skip/capture is main()'s contract.
    */
  def docStreamingBench(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): String = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.stream.DocumentPipeline
    val copies = sys.env.getOrElse("SPARK_GRAFT_DOCS_COPIES", "10").toInt
    val nFiles = sys.env.getOrElse("SPARK_GRAFT_DOCS_FILES", "40").toInt
    val filesPerBatch = sys.env.getOrElse("SPARK_GRAFT_DOCS_FILES_PER_BATCH", "8").toInt
    sizeProgressBuffer(spark, (nFiles + filesPerBatch - 1) / filesPerBatch)
    val base = Files.createTempDirectory("graft_docs_bench")
    try {
      val input = s"$base/input"
      val docs = graft.sources.Tables.table(spark, sfDir, "documents")
      // event time from the ORIGINAL doc_id only: the whole backlog
      // then spans seconds — far inside the 10-minute watermark delay —
      // so no row is ever late and every repeated text actually probes
      // the dedup state. (A copy-dependent ts spread the backlog over
      // hours; the first micro-batch advanced the watermark past ~80%
      // of the input, which was then dropped BEFORE the state lookup —
      // the bench would have measured late-row discarding.)
      val backlog = docs
        .crossJoin(spark.range(copies).select(col("id").as("__c")))
        .select((col("doc_id") + col("__c") * 10000000L).as("doc_id"),
          col("text"), col("lang"), col("source"),
          timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000L).as("ts"))
      backlog.repartition(nFiles).write.mode("overwrite").parquet(input)
      val written = spark.read.parquet(input).count()
      val stream = spark.readStream
        .schema(spark.read.parquet(input).schema)
        .option("maxFilesPerTrigger", filesPerBatch)
        .parquet(input)
      // per-stage attribution knob (SCALING.md "docs-ingest profile"):
      // raw = source+sink floor, enrich = +text features, gate =
      // +quality filter (the production enrichGated composition),
      // full = +watermarked dedup state op. Unknown values fail loud —
      // a typo must not silently bench the full pipeline under the
      // intended stage's name.
      val stage = sys.env.getOrElse("SPARK_GRAFT_DOCS_STAGE", "full")
      def flow = stage match {
        case "raw"    => stream
        case "enrich" => DocumentPipeline.enrich(stream)
        case "gate"   => DocumentPipeline.enrichGated(stream)
        case "full"   => DocumentPipeline.ingest(stream, "ts")
        case other    => sys.error(s"unknown SPARK_GRAFT_DOCS_STAGE '$other' " +
          "(expected raw|enrich|gate|full)")
      }
      val inner = sampledStreamJson("docs_available_now", written, nStreamSamples) { i =>
        val t0 = System.nanoTime()
        val q = flow.writeStream
          .format("noop")
          .option("checkpointLocation", s"$base/ckpt$i")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        ((System.nanoTime() - t0) / 1e9, Seq(q))
      }
      // near-dup fused curation pass (round-15: NearDupCurationStream —
      // the banding-keyed sibling of the ann block's fused_curation):
      // the SAME doc backlog restricted to 2 copies (texts repeat
      // across copies, so every original/copy pair is an exact
      // near-dup the banding must catch) folds per micro-batch into
      // the standing banded-signature store + dup clusters from one
      // signature scan. Reports ingest rows/s + the standing evidence.
      // Own failure domain — a broken fold must not zero docs_available_now.
      val nearDupJson = try {
        val ndIn = s"$base/nd_input"
        spark.read.parquet(input)
          .filter(col("doc_id") < 20000000L) // copies 0 and 1 only
          .select("doc_id", "text")
          .repartition(nFiles / 4).write.mode("overwrite").parquet(ndIn)
        val nArr = spark.read.parquet(ndIn).count()
        val m = new graft.stream.NearDupCurationStream.Maintainer(
          jacThreshold = 0.8)
        try {
          val ndStream = spark.readStream
            .schema(spark.read.parquet(ndIn).schema)
            .option("maxFilesPerTrigger", math.max(1, filesPerBatch / 4))
            .parquet(ndIn)
          val t0 = System.nanoTime()
          val q = ndStream.writeStream
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
              m.ingest(b, id)
            }
            .option("checkpointLocation", s"$base/ckpt_nd")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          val sec = (System.nanoTime() - t0) / 1e9
          val nStore = m.bandIndex.map(_.count()).getOrElse(0L)
          val (nDupNodes, nClusters) = m.clusters
            .map(_.agg(count(lit(1)), countDistinct(col("comp"))).head())
            .map(r => (r.getLong(0), r.getLong(1))).getOrElse((0L, 0L))
          s""""neardup_curation":{"rows":$nArr,"elapsed_sec":$sec,""" +
            s""""rows_per_sec":${nArr / sec},"store_rows":$nStore,""" +
            s""""dup_nodes":$nDupNodes,"dup_clusters":$nClusters}"""
        } finally m.release()
      } catch {
        case scala.util.control.NonFatal(e) =>
          s""""neardup_curation_err":"${esc(Option(e.getMessage)
            .getOrElse(e.getClass.getName).take(200))}""""
      }
      inner.dropRight(1) + s",$nearDupJson}"
    } finally deleteRecursively(base)
  }

  /** Stateful-streaming throughput (round-6 verdict item 4): token
    * budget (transformWithState), interval join (stream-stream with
    * watermark state), fMGWS running stats, and (round 7) streaming
    * near-dup detection. Each op streams a deterministic
    * generated backlog (parquet files, `maxFilesPerTrigger`-bounded
    * micro-batches) through `Trigger.AvailableNow` into a noop sink
    * and reports rows/s + per-batch latency via [[streamJson]] — the
    * same protocol as the census/docs blocks, so the three numbers
    * are comparable. Ops run sequentially in isolated checkpoint
    * dirs; a sub-op failure is captured per-op (one broken state
    * operator must not zero the other numbers).
    */
  def statefulStreamingBench(spark: org.apache.spark.sql.SparkSession): String = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val rows = sys.env.getOrElse("SPARK_GRAFT_STATEFUL_ROWS", "200000").toInt
    val nFiles = sys.env.getOrElse("SPARK_GRAFT_STATEFUL_FILES", "40").toInt
    val filesPerBatch = sys.env.getOrElse("SPARK_GRAFT_STATEFUL_FILES_PER_BATCH", "8").toInt
    sizeProgressBuffer(spark, (nFiles + filesPerBatch - 1) / filesPerBatch)
    val base = Files.createTempDirectory("graft_stateful_bench")
    try {
      // deterministic keyed backlog: 5 000 active users, event times
      // spanning ~2.3 h (well inside every watermark horizon, so each
      // op's state does real cross-batch work and no row is dropped
      // as late). Click stream = 1-in-3 events, 0-2 min after the
      // impression — the attribution shape intervalJoin exists for.
      val t0ms = 1700000000000L
      val events = spark.range(rows.toLong).select(
        col("id"),
        (col("id") % 5000).as("user_id"),
        timestamp_millis(lit(t0ms) + (col("id") % 200000L) * 42L).as("ts"),
        (col("id") % 997).cast("double").as("value"))
      events.select(col("id").as("imp_id"), col("user_id").as("imp_user"),
          col("ts").as("imp_ts"), col("value"))
        .repartition(nFiles).write.mode("overwrite").parquet(s"$base/imp")
      events.filter(col("id") % 3 === 0)
        .select(col("id").as("clk_id"), col("user_id").as("clk_user"),
          (col("ts") + expr("make_interval(0,0,0,0,0,0,30)")).as("clk_ts"))
        .repartition(nFiles).write.mode("overwrite").parquet(s"$base/clk")
      events.select(col("id").as("doc_id"),
          concat(lit("src"), col("id") % 50).as("source"),
          (lit(100L) + col("id") % 400).as("n_tokens"))
        .repartition(nFiles).write.mode("overwrite").parquet(s"$base/docs")
      // near-dup backlog: 95% of docs are 12 globally-unique tokens
      // (zero shared shingles — the no-collision fast path the
      // signature cost dominates); 5% are template re-crawls drawn
      // from 97 template classes, so collision output is bounded at
      // ~rows×0.05×bands regardless of backlog size.
      val tmplText = concat_ws(" ", (0 until 12).map(p =>
        concat(lit("w"), ((col("id") % 97L) * 12 + p).cast("string"))): _*)
      val uniqText = concat_ws(" ", (0 until 12).map(p =>
        concat(lit("u"), (col("id") * 12 + p).cast("string"))): _*)
      events.select(col("id").as("doc_id"), col("ts"),
          when(col("id") % 20 === 0, tmplText).otherwise(uniqText).as("text"))
        .repartition(nFiles).write.mode("overwrite").parquet(s"$base/ndocs")

      def stream(dir: String) = spark.readStream
        .schema(spark.read.parquet(s"$base/$dir").schema)
        .option("maxFilesPerTrigger", filesPerBatch)
        .parquet(s"$base/$dir")
      // flow is BY-NAME: each sample builds a fresh plan over a fresh
      // checkpoint dir (an AvailableNow rerun on a used checkpoint
      // would no-op and report an absurd rate)
      def drive(flow: => org.apache.spark.sql.DataFrame, ckpt: String,
          inputRows: Long, outputMode: String = "append"): String =
        sampledStreamJson(ckpt, inputRows, nStreamSamples) { i =>
          val t0 = System.nanoTime()
          val q = flow.writeStream.format("noop")
            .outputMode(outputMode)
            .option("checkpointLocation", s"$base/$ckpt$i")
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          ((System.nanoTime() - t0) / 1e9, Seq(q))
        }
      def guarded(name: String)(f: => String): String =
        try s""""$name":${f}"""
        catch { case scala.util.control.NonFatal(e) =>
          s""""${name}_err":"${esc(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}""""
        }

      val clkRows = spark.read.parquet(s"$base/clk").count()
      val joinJson = guarded("interval_join") {
        drive(graft.stream.StreamJoins.intervalJoin(
            stream("imp"), "imp_user", "imp_ts",
            stream("clk"), "clk_user", "clk_ts",
            within = "10 minutes", watermarkDelay = "10 minutes"),
          "interval_join", rows.toLong + clkRows)
      }
      val budgetJson = guarded("token_budget") {
        // transformWithState supports only the RocksDB provider
        val key = "spark.sql.streaming.stateStore.providerClass"
        val saved = spark.conf.getOption(key)
        spark.conf.set(key,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          import spark.implicits._
          drive(graft.stream.TokenBudget.admit(
              stream("docs").as[graft.stream.BudgetDoc], 500000L).toDF(),
            "token_budget", rows.toLong)
        } finally saved match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
      }
      val fmgwsJson = guarded("fmgws") {
        import spark.implicits._
        drive(graft.stream.StatefulOps.runningUserStats(
            stream("imp").select(col("imp_user").as("user_id"),
              col("imp_ts").as("ts"), col("value"))
              .as[graft.stream.StatefulOps.KeyedEvent],
            watermarkDelay = "10 minutes", inactivityTimeoutMs = 3600000L).toDF(),
          "fmgws", rows.toLong, outputMode = "update")
      }
      val nearDupJson = guarded("near_dup") {
        drive(graft.stream.StreamingNearDup.detect(
            stream("ndocs"), "ts", watermarkDelay = "10 minutes").toDF(),
          "near_dup", rows.toLong)
      }
      val hittersJson = guarded("heavy_hitters") {
        // token stream from the docs backlog: 50 sources as tokens —
        // a genuinely skewed domain (each source ~rows/50 occurrences)
        // over which the sharded MG state stays at nShards·k counters
        import spark.implicits._
        drive(graft.stream.StatefulOps.heavyHitters(
            stream("docs").select(col("source").as("token"),
              timestamp_millis(lit(t0ms) + (col("doc_id") % 200000L) * 42L)
                .as("ts"))
              .as[graft.stream.StatefulOps.TokenEvent],
            k = 16, nShards = 8, watermarkDelay = "10 minutes").toDF(),
          "heavy_hitters", rows.toLong, outputMode = "update")
      }
      val prioJson = guarded("priority_sample") {
        // the DLT reservoir over the docs backlog (n_tokens as the
        // weight): state is (k+1)·nShards entries regardless of
        // stream length, so the rate here is the per-row cost of the
        // Weyl key + a bounded sorted-insert — the maintenance cost
        // of keeping a 100 TB crawl's weighted sample current
        import spark.implicits._
        drive(graft.stream.PrioritySample.sample(
            stream("docs").select(col("doc_id"),
              timestamp_millis(lit(t0ms) + (col("doc_id") % 200000L) * 42L)
                .as("ts"),
              col("n_tokens").as("w"))
              .as[graft.stream.PrioritySample.DocArrival],
            k = 32, nShards = 8).toDF(),
          "priority_sample", rows.toLong, outputMode = "update")
      }
      s"{$joinJson,$budgetJson,$fmgwsJson,$nearDupJson,$hittersJson,$prioJson}"
    } finally deleteRecursively(base)
  }

  /** Streaming ANN serving throughput (round-7 verdict ask 5): probes
    * stream against the pinned-IVF-indexed STATIC corpus
    * (stream/StreamingAnn — stateless stream-static join; the corpus
    * side is assigned once and persisted, the executor-resident-index
    * deployment shape). `rows` here are PROBE rows — each fans out to
    * its nprobe cells' occupants (~corpus/nlist·nprobe candidates),
    * so the scored-row volume is ~1000× the probe count; the honest
    * metric is probes/s end-to-end into a noop sink. Same
    * median-of-n protocol as every streaming block. Throws on error;
    * skip/capture is main()'s contract.
    */
  def streamingAnnBench(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): String = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val nProbes = sys.env.getOrElse("SPARK_GRAFT_ANN_PROBES", "2000").toInt
    // ≥10 micro-batches (round-8 verdict ask 7): at 4 batches the
    // block was cold-start-dominated (first sample 793 vs steady 974
    // rows/s) — 20 files / 2 per trigger puts the first batch's
    // stream-static plan build at 1/10th of the run, so the reported
    // median reflects steady-state serving
    val nFiles = sys.env.getOrElse("SPARK_GRAFT_ANN_FILES", "20").toInt
    val filesPerBatch = sys.env.getOrElse("SPARK_GRAFT_ANN_FILES_PER_BATCH", "2").toInt
    sizeProgressBuffer(spark, (nFiles + filesPerBatch - 1) / filesPerBatch)
    val base = Files.createTempDirectory("graft_ann_bench")
    try {
      val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
      val assigned = graft.stream.StreamingAnn
        .assignCorpus(emb, graft.ext.IvfModel.centroids).persist()
      assigned.count() // materialize the index before the clock starts
      val input = s"$base/probes"
      // 5× replicated probe stream (distinct probe_ids): at sf0.1 the
      // corpus caps distinct probes at 2000, and splitting those over
      // 10 batches left ~200 probes/batch — small enough that the
      // ~450 ms per-batch fixed cost (stream-static join setup)
      // dominated and rows/s measured the TRIGGER, not the serving.
      // 10k probe rows keep each micro-batch ~1k probes of real
      // scoring work while the batch count stays ≥10.
      val probeCopies = sys.env.getOrElse("SPARK_GRAFT_ANN_PROBE_COPIES", "5").toInt
      emb.filter(col("vec_id") < nProbes)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
        .crossJoin(spark.range(probeCopies).select(col("id").as("__c")))
        .select((col("probe_id") + col("__c") * 1000000L).as("probe_id"),
          col("probe_vec"))
        .repartition(nFiles).write.mode("overwrite").parquet(input)
      val written = spark.read.parquet(input).count()
      // the honest workload context (SCALING.md's own point: rows/s
      // alone hides the fan-out — each probe row scores ~occupancy ×
      // nprobe candidates): total candidates = Σ over probes of their
      // nprobe cells' occupancy, a deterministic batch-side number,
      // reported with the per-probe mean and derived candidates/s
      val occ = assigned.groupBy("cell").agg(count(lit(1)).as("__occ"))
      val candScanned = spark.read.parquet(input)
        .withColumn("cell", explode(graft.ext.IvfIndex.probeCells(
          col("probe_vec"), graft.ext.IvfModel.centroids, 4)))
        .join(occ, Seq("cell"))
        .agg(coalesce(sum("__occ"), lit(0L))).head().getLong(0)
      try {
        val inner = sampledStreamJson("ann_serving", written, nStreamSamples) { i =>
          val stream = spark.readStream
            .schema(spark.read.parquet(input).schema)
            .option("maxFilesPerTrigger", filesPerBatch)
            .parquet(input)
          val flow = graft.stream.StreamingAnn.scoreIvf(
            stream, assigned, graft.ext.IvfModel.centroids, nprobe = 4)
          val t0 = System.nanoTime()
          val q = flow.writeStream.format("noop")
            .option("checkpointLocation", s"$base/ckpt$i")
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          ((System.nanoTime() - t0) / 1e9, Seq(q))
        }
        // rows here ARE probes, so rows_per_sec is probes/s; surface
        // the fan-out context alongside (median-run candidates/s)
        val medSec = {
          val m = """"elapsed_sec":([0-9.]+)""".r.findFirstMatchIn(inner)
          m.map(_.group(1).toDouble)
        }
        val candPerSec = medSec.filter(_ > 0)
          .map(s => s""","candidates_per_sec":${(candScanned / s).toLong}""")
          .getOrElse("")
        // hot-swap serving pass (round-11 verdict ask 6's bench leg):
        // one AvailableNow run through the SAME probe backlog via
        // foreachBatch serving, swapping to the sim27-recipe
        // warm-start refit index after `swap_batch` completes — the
        // maintenance loop exercised under bench conditions, with the
        // swap batch, the postings-rewrite bill, and the end-to-end
        // probes/s on the report. Own failure domain: a broken swap
        // must not zero the main serving numbers.
        val hotSwapJson = try {
          import graft.stream.{IvfHotSwap, IvfServer}
          // dim is the pinned model's geometry — no Spark job needed
          val dim = graft.ext.IvfModel.centroids.head.length
          val fresh = IvfHotSwap.driftedArrivals(
            emb.select("vec_id", "embedding"), dim)
          val extended = emb.select("vec_id", "embedding").unionAll(fresh)
          val refit = IvfHotSwap.refitCentroids(extended)
          // reuse the main serving pass's persisted index as v0 — the
          // server takes over its lifecycle (swap unpersists it)
          val server = new IvfServer(
            emb.select("vec_id", "embedding"), graft.ext.IvfModel.centroids, 4,
            preAssigned = Some(assigned))
          try {
            val swapAfter = 1L // swap when batch 1 completes -> batch 2 serves v1
            @volatile var report: Option[IvfHotSwap.SwapReport] = None
            val stream = spark.readStream
              .schema(spark.read.parquet(input).schema)
              .option("maxFilesPerTrigger", filesPerBatch)
              .parquet(input)
            val t0 = System.nanoTime()
            val q = stream.writeStream
              .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
                server.scoreBatch(b).write.format("noop").mode("overwrite").save()
                if (id == swapAfter && report.isEmpty)
                  report = Some(server.swap(refit, Some(extended)))
              }
              .option("checkpointLocation", s"$base/ckpt_swap")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            val sec = (System.nanoTime() - t0) / 1e9
            val rep = report.getOrElse(
              sys.error("backlog finished before the swap batch"))
            s""""hot_swap":{"swap_batch":${swapAfter + 1},""" +
              s""""index_version_after":${rep.version},""" +
              s""""postings_moved":${rep.nMoved},""" +
              s""""postings_shared":${rep.nShared},""" +
              s""""rows":$written,"elapsed_sec":$sec,""" +
              s""""probes_per_sec":${written / sec}}"""
          } finally server.close()
        } catch {
          case scala.util.control.NonFatal(e) =>
            s""""hot_swap_err":"${esc(Option(e.getMessage)
              .getOrElse(e.getClass.getName).take(200))}""""
        }
        // fused curation pass (round-14 verdict ask 5's bench leg):
        // ingest → dedup → index from ONE scan per micro-batch
        // (stream/CurationStream — the IVF cell doubles as the dedup
        // blocking key). Arrival stream = the corpus plus exact
        // clones of every 7th vector under shifted ids, so real dup
        // clusters form across batch boundaries; reports end-to-end
        // ingest rows/s plus the standing-store evidence (postings
        // count == arrivals, cluster assignment covering original +
        // clone pairs). Own failure domain like the hot-swap pass.
        val fusedJson = try {
          val arrivals = emb.select(col("vec_id"), col("embedding"))
            .unionAll(emb.filter(col("vec_id") % 7 === 0)
              .select((col("vec_id") + 7000000L).as("vec_id"),
                col("embedding")))
          val aIn = s"$base/arrivals"
          arrivals.repartition(nFiles).write.mode("overwrite").parquet(aIn)
          val nArr = spark.read.parquet(aIn).count()
          val m = new graft.stream.CurationStream.Maintainer(
            graft.ext.IvfModel.centroids)
          try {
            val stream = spark.readStream
              .schema(spark.read.parquet(aIn).schema)
              .option("maxFilesPerTrigger", filesPerBatch)
              .parquet(aIn)
            val t0 = System.nanoTime()
            val q = stream.writeStream
              .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
                m.ingest(b, id)
              }
              .option("checkpointLocation", s"$base/ckpt_fused")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            val sec = (System.nanoTime() - t0) / 1e9
            val nPostings = m.postings.map(_.count()).getOrElse(0L)
            val clusterRows = m.clusters.map(
              _.agg(count(lit(1)), countDistinct(col("comp"))).head())
            val (nDupNodes, nClusters) = clusterRows
              .map(r => (r.getLong(0), r.getLong(1))).getOrElse((0L, 0L))
            s""""fused_curation":{"rows":$nArr,"elapsed_sec":$sec,""" +
              s""""batches":${(nFiles + filesPerBatch - 1) / filesPerBatch},""" +
              s""""rows_per_sec":${nArr / sec},""" +
              s""""postings":$nPostings,"dup_nodes":$nDupNodes,""" +
              s""""dup_clusters":$nClusters}"""
          } finally m.release()
        } catch {
          case scala.util.control.NonFatal(e) =>
            s""""fused_curation_err":"${esc(Option(e.getMessage)
              .getOrElse(e.getClass.getName).take(200))}""""
        }
        inner.dropRight(1) +
          s""","candidates_scanned":$candScanned""" +
          s""","candidates_per_probe":${if (written == 0) 0L else candScanned / written}$candPerSec,$hotSwapJson,$fusedJson}"""
      } finally assigned.unpersist(blocking = false)
    } finally deleteRecursively(base)
  }

  /** Stress-scale block (round-4 verdict item 4): re-times the heavy
    * dedup/text queries on a COPIES×-enlarged corpus (shifted-id
    * copies — the DevStress recipe, built in-process) so
    * round-over-round regression detection has a scale point above the
    * ±20-25% noise floor of sub-second sf0.1 medians: at 5-30 s
    * runtimes a regression worth catching moves whole seconds.
    *
    * Round-5 verdict item 1a: one sample per query was itself noisier
    * than the noise floor the tier exists to beat (the same commit
    * measured dedup_components at 4.5 s and 10.5 s — GC/checkpoint
    * jitter on an iterative job). Each query now takes
    * SPARK_GRAFT_STRESS_N (default 3) timed samples — clearCache
    * before each, same discipline as the batch loop — and reports the
    * median plus the [min,max] spread, so a future swing is
    * attributable at a glance (tight spread + moved median = real
    * change; wide spread = jitter).
    *
    * Round-5 verdict item 7: the tier also synthesizes COPIES×
    * lineitem / orders / customer (keys shifted by a stride above any
    * sf0.1 key range; nation/region dims copied as-is — they stay
    * broadcast-small at any corpus scale, which is the point of the
    * plan) so the headline relational queries get an above-noise scale
    * point too, not just the documents/embeddings surface.
    *
    * Embedding copies form identity clusters, so the near-dup queries
    * are deliberately output-bound — a fixed, comparable workload each
    * round. Throws on error; skip/capture is main()'s contract.
    */
  def stressBench(spark: org.apache.spark.sql.SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions._
    val copies = sys.env.getOrElse("SPARK_GRAFT_STRESS_COPIES", "8").toInt
    // n=5 (round-7): the r6 simhash "regression" (median 2.68 → 8.93 s)
    // reproduced at the SAME commit as 1.8-3.0 s medians across three
    // session shapes — the tier's multi-second outliers ROAM (r6: two
    // simhash samples; r7 repro: one minhash sample at 6.96 s, one q3
    // sample at 5.41 s, simhash at floor). With n=3 two roaming
    // outliers flip a median; with n=5 the median survives two.
    val nSamples = sys.env.getOrElse("SPARK_GRAFT_STRESS_N", "5").toInt
    val names = sys.env.get("SPARK_GRAFT_STRESS_QUERIES")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      // round-8: the iterative graph family joins the tier (g1/g3/g3b
      // — exactly the class where the 3^R plan-explosion trap was
      // measured, E143; a lineage-discipline regression now moves a
      // stress median instead of hiding in verify-time drift).
      // Copy-scaling caveat: shifted orderkeys × SHARED partkeys means
      // per-order part sets repeat, so co-purchase pair SUPPORT
      // multiplies by copies and the support-thresholded graphs come
      // out denser than 8× data would — a harder, but stable,
      // workload (measured: g3 11.3 s, g3b 9.9 s, g1 4.1 s).
      // g7_ktruss is deliberately NOT in the default: triangle
      // support on the densified graph measured 47 s/sample — ~4 min
      // of tier time for a shape g3/g3b already regression-gate.
      // round-9 note: g15_link_prediction was considered for the tier
      // and deliberately left OUT — 12.5 s at sf0.1 extrapolates to
      // ~100 s/sample at 8× (the customer-key pair fan-out scales
      // linearly in copies but starts too heavy), the g7_ktruss
      // precedent applied before burning tier time.
      .getOrElse(stressDefault)
    val base = Files.createTempDirectory("graft_stress_bench")
    try {
      val dir = base.toString
      def copied(table: String, keyCols: Seq[String], stride: Long): Unit = {
        val src = graft.sources.Tables.table(spark, sfDir, table)
        val aug =
          if (keyCols.isEmpty) src // broadcast-small dim: no scaling
          else keyCols.foldLeft(
            src.crossJoin(spark.range(copies).select(col("id").as("__c")))) {
              (df, k) => df.withColumn(k, col(k) + col("__c") * stride)
            }.drop("__c")
        aug.write.parquet(s"$dir/$table.parquet")
      }
      copied("documents", Seq("doc_id"), 1000000L)
      // copy stride 10^7 keeps every copied id clear of
      // dedup_embedding_lsh's internal clone offset (vec_id + 10^6):
      // a 10^5 stride would collide from 11 copies up, duplicating
      // vec_ids in the aug frame and silently inflating the workload
      copied("embeddings", Seq("vec_id"), 10000000L)
      // relational tier: orderkeys shift in lockstep on both sides of
      // the q3 join (each copy joins only its own copy — the join
      // fan-out scales linearly, like a real 8× day-partition growth);
      // custkey shift keeps c_custkey unique while c_nationkey still
      // lands on the unscaled broadcast dims
      copied("lineitem", Seq("l_orderkey"), 10000000L)
      copied("orders", Seq("o_orderkey"), 10000000L)
      copied("customer", Seq("c_custkey"), 10000000L)
      copied("nation", Seq.empty, 0L)
      copied("region", Seq.empty, 0L)
      val results = names.map { name =>
        sampleControl(spark, sfDir, "stress8x") // load sentinel, sfDir corpus
        recordQueryEvent("stress8x", name)
        name -> (try {
          // one untimed warm-up run per query: DevCcBench attribution
          // showed the stress swing is JIT/codegen + page-cache
          // warmth, not GC (gc_during ≤0.2 s while elapsed swung
          // 3.7-15.5 s) — the batch loop warms ITS plans, not the
          // stress tier's (different corpus, and CC's iterative
          // checkpoint/observe paths only JIT here)
          spark.catalog.clearCache()
          SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
          def gcMs: Long = {
            import scala.jdk.CollectionConverters._
            java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
              .asScala.map(_.getCollectionTime.max(0L)).sum
          }
          val gc0 = gcMs
          val samples = (1 to nSamples).map { _ =>
            spark.catalog.clearCache()
            val t0 = System.nanoTime()
            SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          // chronological samples + heap + GC delta to stderr (never
          // the JSON line): the raw material for attributing a spread
          // — a monotone drift points at accumulating state, a lone
          // outlier with gc_ms ≈ 0 at external/page-cache jitter
          val rt = Runtime.getRuntime
          System.err.println(f"[stress] $name samples=${samples.map(s => f"$s%.2f").mkString(",")} heap_used_mb=${(rt.totalMemory - rt.freeMemory) / (1 << 20)} gc_ms=${gcMs - gc0}")
          Right(samples)
        } catch {
          case scala.util.control.NonFatal(e) =>
            Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        })
      }
      graft.queries.DedupQueries.releaseSignatureCache()
      graft.queries.SimilarityQueries.releaseCaches()
      graft.queries.ParityQueries.releaseCaches()
      graft.queries.EventQueries.releaseCaches()
      graft.queries.TextQueries.releaseCaches()
      // ANN recall at stress scale (round-6 verdict item 3): the hash
      // oracle pins sim4/sim5 candidate geometry at sf0.01; nothing
      // watched whether bucket/cell occupancy drift at 8× erodes
      // result QUALITY. Recall = |ANN top-k pairs ∩ brute-force
      // top-k pairs| / |brute| over the SAME stress corpus (identical
      // probes and tie-breaks — sim1 is the exact baseline). Cheap:
      // 5 probes × corpus dot products. Floor pinned at 0.9, the
      // sf0.01 spec level; a value below floor is reported AND counted
      // in `failed` so a silent quality regression fails the bench.
      val RecallFloor = 0.9
      val recalls: Seq[(String, Either[String, Double])] =
        if (sys.env.contains("SPARK_GRAFT_STRESS_RECALL_SKIP")) Seq.empty
        else {
          def recallOf(name: String)(
              brute: => org.apache.spark.sql.DataFrame): (String, Either[String, Double]) =
            name -> (try {
              val b = brute.select("probe_id", "vec_id")
              val ann = SparkEntry.queries(name)(spark, dir)
                .select("probe_id", "vec_id")
              val hit = ann.join(b, Seq("probe_id", "vec_id")).count()
              val tot = b.count()
              Right(if (tot == 0) 1.0 else hit.toDouble / tot)
            } catch {
              case scala.util.control.NonFatal(e) =>
                Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
            })
          val cosine = Seq("sim4_lsh_topk", "sim5_ivf_topk").map(n =>
            recallOf(n)(SparkEntry.queries("sim1_topk_bruteforce")(spark, dir)))
          // sim10 ranks by integer L2 on quantized vectors — its
          // baseline is the exact search in the SAME metric space,
          // not the cosine brute force. On the clone-stress corpus
          // the exact top-k is the probe's identity clones (distance
          // 0, identical codes, same vec_id tie-break both sides), so
          // PQ must recover them perfectly — any sub-floor value
          // means a broken codebook/encode, not benign drift.
          // sim11 shares the baseline: identical clones land in the
          // probe's own routed cell, so IVFADC must also recover
          // them perfectly — a sub-floor value here isolates broken
          // ROUTING (coarse model/assignment) from broken codes.
          def exactL2 = {
            import org.apache.spark.sql.functions.col
            val qdf = graft.ext.Lloyd.quantized(
              graft.sources.Tables.table(spark, dir, "embeddings"))
            graft.ext.Pq.exactL2TopK(qdf,
              qdf.filter(col("vec_id") < 5)
                .select(col("vec_id").as("probe_id"), col("qv").as("probe_qv")),
              k = 5)
          }
          val pq = Seq("sim10_pq_adc_topk", "sim11_ivfpq_topk")
            .map(n => recallOf(n)(exactL2))
          // sim23 carries its own exact-vs-SQ8 overlap counts: the
          // gated number is hit30 coverage of the exact top-10 —
          // the candidate-then-rerank operating point (1.0 at sf0.1;
          // a sub-floor value means quantization geometry broke, not
          // benign drift, because identity clones share codes).
          val sq8 = Seq("sim23_sq8_recall" -> (try {
            import org.apache.spark.sql.functions.{count => cnt, lit, sum => fsum}
            val r = SparkEntry.queries("sim23_sq8_recall")(spark, dir)
              .agg(fsum("hit30"), cnt(lit(1))).head()
            val n = r.getLong(1)
            Right(if (n == 0) 1.0 else r.getLong(0).toDouble / (10.0 * n))
          } catch {
            case scala.util.control.NonFatal(e) =>
              Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
          }))
          cosine ++ pq ++ sq8
        }
      sampleControl(spark, sfDir, "stress8x") // trailing flank sentinel
      graft.queries.SimilarityQueries.releaseCaches()
      graft.queries.ParityQueries.releaseCaches()
      graft.queries.EventQueries.releaseCaches()
      graft.queries.TextQueries.releaseCaches()
      val medians = results.map { case (k, r) =>
        k -> r.map(s => s.sorted.apply(s.length / 2))
      }
      medians.collect { case (k, Right(t)) => tierTimes(s"stress8x/$k") = t }
      results.collect { case (k, Right(s)) =>
        tierSpreads(s"stress8x/$k") = (s.min, s.max) }
      val (qs, errJson, nErr) = resultJson(medians)
      val spreads = results.collect { case (k, Right(s)) =>
        "\"" + esc(k) + s"""":[${s.min},${s.max}]"""
      }.mkString("{", ",", "}")
      val total = medians.collect { case (_, Right(t)) => t }.sum
      val (recallJson, nRecallErr) =
        if (recalls.isEmpty) ("", 0)
        else {
          val members = recalls.map {
            case (k, Right(r)) => "\"" + esc(k) + "\":" + r
            case (k, Left(_))  => "\"" + esc(k) + "\":null"
          } :+ s""""floor":$RecallFloor"""
          val errs = recalls.collect { case (k, Left(e)) => s"$k: $e" } ++
            recalls.collect { case (k, Right(r)) if r < RecallFloor =>
              s"$k recall $r below floor $RecallFloor" }
          errs.foreach(e => System.err.println(s"[stress] RECALL ALERT $e"))
          (s""","recall":${members.mkString("{", ",", "}")}""", errs.size)
        }
      s"""{"copies":$copies,"n":$nSamples,"stat":"median","total_sec":$total,"queries":$qs,"spread":$spreads$recallJson$errJson,"failed":${nErr + nRecallErr}}"""
    } finally deleteRecursively(base)
  }

  /** Per-tier per-query medians of the CURRENT run, flattened as
    * `tier/name` → seconds — the raw material for the bench
    * regression alarm (round-8 verdict ask 4; the verify sweep got
    * its alarm in round 7, BENCH had nothing). Populated by the
    * headline loop and each tier as they run; read (with the spread
    * context map) by [[moversJson]] at the end of main.
    */
  private val tierTimes = scala.collection.mutable.LinkedHashMap[String, Double]()
  private val tierSpreads = scala.collection.mutable.HashMap[String, (Double, Double)]()
  /** The heavy list the promotion policy actually produced this run
    * (None when SPARK_GRAFT_HEAVY_QUERIES overrode the policy, so the
    * mirror's recorded list carries forward unchanged — an explicit
    * dev override must not erase the full-run record).
    */
  @volatile private var promotedThisRun: Option[Seq[String]] = None

  /** The in-run load sentinel (round-11 verdict ask 2 — the jitter
    * class burned an interleaved attribution cycle in r8/r9/r10): a
    * pinned CONTROL query — q3_top_order_revenue, the same stable
    * control that protocol interleaved — is sampled inside every
    * batch tier as it runs, always against the driver's sfDir corpus
    * under the per-sample cold-data discipline, so its plan and
    * workload never change across runs. A tier whose control median drifts ≥1.8×
    * the mirror's cross-run control baseline is experiencing
    * machine-level load, and alarms fired in that tier self-attribute
    * as `run_level_load` at alarm time (BenchMirror.classifyAlarms)
    * instead of shipping `unattributed` and costing a next-round
    * attribution cycle. First-run seeding: the mirror's
    * `headline/q3_top_order_revenue` median is the same protocol
    * (median of cold-data samples of the same plan), so it serves as
    * the baseline until a `control/...` entry exists.
    */
  private val ControlQuery = "q3_top_order_revenue"
  private val controlSamples =
    scala.collection.mutable.ArrayBuffer[(String, Double)]()

  /** Run-order event log, (tier, event): every control sample and
    * every query block in execution order — the raw material for
    * [[BenchMirror.classifyAlarmsNearest]]'s flank rule (round-12
    * verdict ask 2: the tier-median classifier aggregated away the
    * per-sample evidence that would have self-attributed all five
    * BENCH_r12 headline alarms). Query events are appended at the
    * START of a query's block, control events inside
    * [[sampleControl]] — within a tier the relative order of a
    * query and its flanking controls is what matters, and no control
    * runs inside a query's own block.
    */
  private val runEvents =
    scala.collection.mutable.ArrayBuffer[(String, BenchMirror.RunEvent)]()

  private def recordQueryEvent(tier: String, name: String): Unit =
    runEvents += tier -> Right(s"$tier/$name")

  /** One cold-DATA control sample. No per-sample JIT re-warm run (the
    * headline protocol's extra untimed pass): the control's plan is
    * JIT-warmed by the global headline warm-up (q3 is a headline
    * query) and then kept warm by its own periodic execution through
    * every tier, and the classifier reads per-tier MEDIANS — a lone
    * cold-JIT sample among a tier's many cannot move the median near
    * the 1.8× drift threshold (measured cold-vs-warm control margin
    * ~1.2×, r10 attribution table).
    */
  private def sampleControl(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, tier: String): Unit =
    try {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      SparkEntry.queries(ControlQuery)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      controlSamples += tier -> sec
      runEvents += tier -> Left(sec)
    } catch {
      case scala.util.control.NonFatal(e) =>
        // a dead control must not kill the tier; classification just
        // degrades to `unattributed` for this tier's alarms
        System.err.println(
          s"[bench-control] WARNING control sample failed in $tier: ${e.getMessage}")
    }

  /** Bench regression alarm (round-8 verdict ask 4): ratio every
    * `tier/query` median of this run against the previous FULL run's
    * mirror (BENCH_TIMES.json at the repo root, the VERIFY_TIMES
    * discipline), surface the top movers on stderr + a movers JSON
    * block on the bench line + bench_movers.json, and rewrite the
    * mirror — all ONLY on full default-tier runs at the driver's SF
    * (a dev subset or stress-tuned run must not clobber the baseline
    * or fire apples-to-oranges alarms). Alarm = ratio ≥ 2 AND new ≥
    * 1 s AND, where the previous run recorded a [min,max] spread for
    * the query, the new median clears the previous max — the stress
    * tier's documented roaming-outlier bands (16-44 s on g3b in r8)
    * make a spread-blind ratio gate fire on jitter. Warn-only: the
    * bench must not fail on timing.
    */
  private def moversJson(fullDefaultRun: Boolean, wallSec: Double): String = {
    if (!fullDefaultRun) return ""
    val path = Paths.get("BENCH_TIMES.json")
    val out = new StringBuilder
    try {
      val accepted = sys.env.get("SPARK_GRAFT_ACCEPT_MOVERS")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty[String])
      val body = if (Files.exists(path)) Files.readString(path) else ""
      val prev = BenchMirror.parseTimes(body)
      val prevSpread = BenchMirror.parseSpreads(body)
      val prevUnattr = BenchMirror.parseUnattributed(body)
      val prevRunLoad = BenchMirror.parseRunLevelLoad(body)
      val prevWall = BenchMirror.parseWall(body)
      val prevHistory = BenchMirror.parseHistory(body)
      val prevBest = BenchMirror.parseBest(body)
      // the control sentinel's run-global median enters the mirror as
      // its own entry, so the baseline is cross-run and the hold/
      // auto-clear rules protect it from poisoning like any other
      val controlKey = s"control/$ControlQuery"
      val ctlByTier = controlSamples.toSeq.groupBy(_._1)
        .map { case (t, xs) => t -> xs.map(_._2) }
      val ctlAll = controlSamples.toSeq.map(_._2)
      if (ctlAll.nonEmpty)
        tierTimes(controlKey) = ctlAll.sorted.apply(ctlAll.length / 2)
      // baseline: the mirror's control entry; first-run fallback is the
      // headline median of the same query (same plan, same protocol).
      // The fallback is ALSO injected as the control's prev entry so
      // the very first sentinel-enabled run cannot seed the mirror
      // with a loaded-run control median unguarded (the alarm/hold
      // machinery needs a prev to fire; without this, a first run
      // under the r8/r9/r10 load class would adopt ~2.7 s as the
      // cross-run baseline and blind every later drift read)
      val ctlBaseline = prev.get(controlKey)
        .orElse(prev.get(s"headline/$ControlQuery"))
      val prevG = if (prev.contains(controlKey)) prev
        else ctlBaseline.map(b => prev + (controlKey -> b)).getOrElse(prev)
      if (body.nonEmpty) {
        val ratios = tierTimes.toSeq.collect {
          case (k, v) if prevG.get(k).exists(_ > 0.0) => (k, v, prevG(k), v / prevG(k))
        }
        val movers = ratios.sortBy(-_._4).take(5)
        movers.foreach { case (k, nv, ov, r) =>
          System.err.println(f"[bench-times] top-mover $k $ov%.2f -> $nv%.2f s (x$r%.2f)")
        }
        val alarms = ratios.filter { case (k, nv, _, _) =>
          BenchMirror.isAlarm(nv, prevG(k), prevSpread.get(k))
        }
        alarms.foreach { case (k, nv, ov, r) =>
          System.err.println(f"[bench-times] REGRESSION ALARM $k $ov%.2f -> " +
            f"$nv%.2f s (x$r%.2f; threshold x2, >=1 s, above prev spread max)")
        }
        // nearest-sample locality (round-12 verdict ask 2): classify
        // against the alarm's flanking control samples in run order
        // (plus the ≥2-elevated-samples tier-burst rule), not just the
        // tier median that aggregated r12's per-sample evidence away
        val evByTier = runEvents.toSeq.groupBy(_._1)
          .map { case (t, xs) => t -> xs.map(_._2) }
        val (loadAttr, _) = BenchMirror.classifyAlarmsNearest(
          alarms.map(_._1), evByTier, ctlBaseline)
        val mr = BenchMirror.mergeWithHistory(
          prevG, prevSpread, prevUnattr, tierTimes.toSeq, tierSpreads.toMap,
          accepted, prevRunLoad, loadAttr, prevHistory, prevBest)
        val (mTimes, mSpreads, unattr, runLoad) =
          (mr.times, mr.spreads, mr.unattributed, mr.runLevelLoad)
        mr.ratchetHeld.foreach(k => System.err.println(
          s"[bench-times] RATCHET HOLD $k — drift ≥1.5x on a query with a " +
            "jitter history; mirror holds the baseline (a clean re-measure " +
            "rewrites it, SPARK_GRAFT_ACCEPT_MOVERS accepts a real change)"))
        unattr.foreach(k => System.err.println(
          s"[bench-times] UNATTRIBUTED $k — mirror holds pre-alarm baseline " +
            "until a DevQueryAB attribution (SPARK_GRAFT_ACCEPT_MOVERS) or a " +
            "clean re-measure clears it"))
        runLoad.foreach(k => System.err.println(
          s"[bench-times] RUN-LEVEL-LOAD $k — control sentinel drifted ≥1.8x " +
            "in this alarm's tier; mirror holds pre-alarm baseline, a clean " +
            "re-measure clears it"))
        val moverJson = movers.map { case (k, nv, ov, r) =>
          s""""${esc(k)}":{"prev":$ov,"now":$nv,"ratio":${BenchMirror.num(r)}}"""
        }.mkString("{", ",", "}")
        def arr(xs: Seq[String]) =
          xs.map(k => s""""${esc(k)}"""").mkString("[", ",", "]")
        val ctlTierJson = ctlByTier.toSeq.sortBy(_._1).map { case (t, xs) =>
          s""""${esc(t)}":[${xs.map(BenchMirror.num).mkString(",")}]"""
        }.mkString("{", ",", "}")
        val ctlJson =
          s""""control":{"name":"${esc(ControlQuery)}",""" +
            s""""baseline":${ctlBaseline.map(BenchMirror.num).getOrElse("null")},""" +
            s""""median":${tierTimes.get(controlKey).map(BenchMirror.num).getOrElse("null")},""" +
            s""""drift_ratio":${(for {b <- ctlBaseline if b > 0.0; m <- tierTimes.get(controlKey)}
              yield BenchMirror.num(m / b)).getOrElse("null")},""" +
            s""""by_tier":$ctlTierJson}"""
        val wallJson =
          s""""wall_sec":${BenchMirror.num(wallSec)},""" +
            s""""prev_wall_sec":${prevWall.map(BenchMirror.num).getOrElse("null")},""" +
            s""""wall_ratio":${prevWall.filter(_ > 0.0)
              .map(p => BenchMirror.num(wallSec / p)).getOrElse("null")}"""
        val block =
          s"""{"threshold":{"ratio":2.0,"min_sec":1.0,"spread_guard":true,"control_drift":1.8,"ratchet":1.5},""" +
            s""""alarms":${alarms.size},"unattributed":${arr(unattr)},""" +
            s""""run_level_load":${arr(runLoad)},""" +
            s""""ratchet_held":${arr(mr.ratchetHeld)},$ctlJson,$wallJson,""" +
            s""""top_movers":$moverJson}"""
        Files.writeString(Paths.get("bench_movers.json"), block)
        out ++= s""","movers":$block"""
        // promoted heavy list: this run's policy output, or (when the
        // policy didn't run) the previous full run's record verbatim
        val promotedRec = promotedThisRun
          .getOrElse(BenchMirror.parsePromotedHeavy(body))
        Files.writeString(path, BenchMirror.render(mTimes, mSpreads, unattr, esc,
          runLoad, Some(wallSec), mr.ratchetHeld, mr.history, mr.best,
          promotedRec))
      } else {
        // first run: no baseline to compare or hold — seed the mirror
        // (best seeds at the observed medians and only falls after)
        Files.writeString(path, BenchMirror.render(
          tierTimes.toSeq, tierSpreads.toMap, Seq.empty, esc,
          Seq.empty, Some(wallSec), Seq.empty, Seq.empty, tierTimes.toMap,
          promotedThisRun.getOrElse(Seq.empty)))
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        // warn-only (the bench must not fail on timing bookkeeping),
        // but NEVER silently: a dead mirror means a dead alarm
        System.err.println(
          s"[bench-times] WARNING mirror update failed: ${e.getClass.getName}: ${e.getMessage}")
    }
    out.toString
  }

  /** Heavy-tail tier (round-8 verdict ask 5): the registry's most
    * expensive queries — g13_sssp was #1 in VERIFY_TIMES at 7.2 s,
    * tx41/j13/sim22 right behind — were benched NOWHERE (not
    * headline, not stress, not cold), so a regression in any of them
    * was invisible to BENCH. Same per-sample protocol as the stress
    * tier (clearCache + release, one untimed warm-up, n medians +
    * spreads) but on the driver's corpus directly: these queries are
    * heavy at sf0.1 already, and stress-scaling the iterative ones
    * (g13's frontier rounds, sim22's ε-graph) would cost tier minutes
    * the g7_ktruss precedent argues against. sim22b rides along so
    * the exact-vs-LSH DBSCAN pair is regression-tracked TOGETHER.
    */
  /** The heavy tier's pinned core: pairs whose RELATIVE cost is the
    * signal (exact vs LSH DBSCAN) ride together regardless of rank.
    */
  private val heavyBase = Seq("g13_sssp", "tx41_decontamination",
    "j13_item_cf", "sim22_dbscan", "sim22b_dbscan_lsh")

  /** The stress tier's default list (kept here so the heavy promotion
    * policy can see what that tier already regression-gates).
    */
  private val stressDefault = Seq("dedup_minhash_pairs",
    "dedup_simhash_pairs", "pipeline_curation", "tx12_bigram_lm_score",
    "dedup_embedding_lsh", "dedup_components", "q3_top_order_revenue",
    "join_3way_region_rollup", "q18_large_orders", "q13_cust_order_dist",
    "g1_pagerank", "g3_kcore", "g3b_kcore_frontier")

  /** Cold tier default list (same reason). */
  private val coldDefault = Seq("dedup_sparse_cosine",
    "dedup_prefix_filter", "dedup_banding_recall", "tx7_canonical_dedup")

  /** Heavy-tier auto-promotion POLICY (round-10 verdict ask 4): rounds
    * 8 and 9 each found the registry's newest most-expensive query
    * benched nowhere (g13 then g17) and fixed the LIST — this fixes the
    * CLASS. Each full bench reads VERIFY_TIMES.json (the full-sweep
    * per-query wall-clocks, rewritten only by full Verify sweeps),
    * drops everything already covered by headline/stress/cold/heavy,
    * and promotes the top-N survivors into the heavy tier. A new query
    * that lands at the top of the verify cost table is therefore
    * regression-benched on the NEXT bench run with no human in the
    * loop; promoted names are published in the heavy block so the
    * round-over-round movers stay attributable.
    */
  private def promotedHeavy(): Seq[String] = {
    val n = sys.env.getOrElse("SPARK_GRAFT_HEAVY_PROMOTE_N", "4").toInt
    if (n <= 0) return Seq.empty
    try {
      val p = Paths.get("VERIFY_TIMES.json")
      if (!Files.exists(p)) return Seq.empty
      val body = Files.readString(p)
      val times = BenchMirror.parseTimes(body)
      val covered =
        (SparkEntry.benchQueries ++ stressDefault ++ coldDefault ++ heavyBase).toSet
      val known = SparkEntry.queries.keySet
      // membership pin on load-inflated sweeps (round-12 verdict ask
      // 4): the r12 sweep ran ×1.54 under ambient load and rotated
      // a19/layout_skipping/a18 in over g11/g21/t_pettitt purely on
      // inflated numbers — tier membership derived from a sweep the
      // sweep-total ratchet HELD is noise-driven churn. Rotation
      // rule: membership only rotates on a sweep whose total sat
      // inside the 1.5× ratchet; otherwise the previous promoted set
      // (recoverable from the mirror's heavy/* entries minus the
      // pinned core) carries forward unchanged.
      def reRead(field: String): Option[Double] =
        ("\"" + field + "\"\\s*:\\s*([0-9.]+)").r
          .findFirstMatchIn(body).map(_.group(1).toDouble)
      val inflated = (for {
        held <- reRead("sweep_total_sec"); last <- reRead("sweep_total_last_sec")
      } yield held > 0.0 && last / held >= 1.5).getOrElse(false)
      if (inflated) {
        val mirror = Paths.get("BENCH_TIMES.json")
        val mirrorBody =
          if (Files.exists(mirror)) Files.readString(mirror) else ""
        // the explicitly recorded list from the last full run (round-13
        // advice) — the value-sorted heavy/* inference below is only
        // the fallback for mirrors written before the key existed
        val stored = BenchMirror.parsePromotedHeavy(mirrorBody)
          .filter(known).filterNot(heavyBase.contains).take(n)
        val prevHeavy =
          if (stored.nonEmpty) stored
          else if (mirrorBody.nonEmpty)
            BenchMirror.parseTimes(mirrorBody).toSeq
              .collect {
                case (k, v) if k.startsWith("heavy/") &&
                  !heavyBase.contains(k.stripPrefix("heavy/")) &&
                  known(k.stripPrefix("heavy/")) =>
                  (k.stripPrefix("heavy/"), v)
              }
              .sortBy { case (k, v) => (-v, k) }.take(n).map(_._1)
          else Seq.empty
        System.err.println("[heavy] sweep-total ratchet held (load-" +
          s"inflated sweep) — pinning previous promoted set: " +
          prevHeavy.mkString(","))
        return prevHeavy
      }
      times.toSeq
        .collect { case (k, v) if !covered(k) && known(k) => (k, v) }
        .sortBy { case (k, v) => (-v, k) }
        .take(n).map(_._1)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[heavy] WARNING promotion policy failed: ${e.getMessage}")
        Seq.empty
    }
  }

  def heavyBench(spark: org.apache.spark.sql.SparkSession, sfDir: String): String = {
    val explicit = sys.env.get("SPARK_GRAFT_HEAVY_QUERIES")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
    val promoted = if (explicit.isDefined) Seq.empty else promotedHeavy()
    promotedThisRun = if (explicit.isDefined) None else Some(promoted)
    val names = explicit.getOrElse(heavyBase ++ promoted.filterNot(heavyBase.contains))
    if (promoted.nonEmpty)
      System.err.println(s"[heavy] promoted from VERIFY_TIMES: ${promoted.mkString(",")}")
    // n=5 (round-11 verdict ask 4): g17's r10 spread was [3.12, 18.88]
    // — with the environment's roaming ~6x outliers, an n=3 median is
    // one bad draw from BEING the outlier; n=5 survives two
    val nSamples = sys.env.getOrElse("SPARK_GRAFT_HEAVY_N", "5").toInt
    def releaseAll(): Unit = {
      graft.queries.DedupQueries.releaseSignatureCache()
      graft.queries.SimilarityQueries.releaseCaches()
      graft.queries.ParityQueries.releaseCaches()
      graft.queries.EventQueries.releaseCaches()
      graft.queries.TextQueries.releaseCaches()
    }
    val results = names.map { name =>
      sampleControl(spark, sfDir, "heavy") // load sentinel
      recordQueryEvent("heavy", name)
      name -> (try {
        releaseAll(); spark.catalog.clearCache()
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        val samples = (1 to nSamples).map { _ =>
          releaseAll(); spark.catalog.clearCache()
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        System.err.println(
          f"[heavy] $name samples=${samples.map(s => f"$s%.2f").mkString(",")}")
        Right(samples)
      } catch {
        case scala.util.control.NonFatal(e) =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      })
    }
    sampleControl(spark, sfDir, "heavy") // trailing flank sentinel
    releaseAll()
    val medians = results.map { case (k, r) =>
      k -> r.map(s => s.sorted.apply(s.length / 2))
    }
    medians.collect { case (k, Right(t)) => tierTimes(s"heavy/$k") = t }
    results.collect { case (k, Right(s)) =>
      tierSpreads(s"heavy/$k") = (s.min, s.max) }
    val (qs, errJson, nErr) = resultJson(medians)
    val spreads = results.collect { case (k, Right(s)) =>
      "\"" + esc(k) + s"""":[${s.min},${s.max}]"""
    }.mkString("{", ",", "}")
    val total = medians.collect { case (_, Right(t)) => t }.sum
    val promJson = promoted.map(k => s""""${esc(k)}"""").mkString("[", ",", "]")
    s"""{"n":$nSamples,"stat":"median","total_sec":$total,"promoted":$promJson,"queries":$qs,"spread":$spreads$errJson,"failed":$nErr}"""
  }

  /** Cold-tier block (round-6 verdict item 2): a production dedup run
    * is single-pass and data-cold, so for cache-building queries the
    * COLD cost is the real cost — the headline/stress tiers' per-
    * sample clearCache measures cold DATA but warm JIT, and
    * dedup_sparse_cosine (whose cost IS its signature-cache build)
    * was excluded from both, leaving the registry's slowest query
    * with zero regression tracking. No warm-up pass, tracked caches
    * dropped before EVERY sample; n=3 with ALL samples reported
    * chronologically (first ≈ truly cold JIT+data, the rest ≈
    * warm-JIT/cold-data — the first-vs-rest gap is the cold cost and
    * the rest-vs-rest band is the steady state, so no median is taken).
    */
  def coldBench(spark: org.apache.spark.sql.SparkSession, sfDir: String): String = {
    val names = sys.env.get("SPARK_GRAFT_COLD_QUERIES")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      // all four are single-pass cache-building sweeps whose cold
      // cost IS the production cost (round-7: prefix filter joined
      // sparse cosine; round-8 verdict ask 6: banding recall builds
      // TWO candidate caches, canonical dedup builds the tf cache —
      // the top of VERIFY_TIMES, previously warm-only)
      .getOrElse(coldDefault)
    // n=3 (round-10 verdict ask 6): tx7's 1.41 → 0.25 s chronological
    // pair showed n=2 conflates first-touch JIT/cache state with the
    // steady state it's contrasted against; the third sample separates
    // "cold cost" (sample 1) from a stable steady band (samples 2..n)
    val nSamples = sys.env.getOrElse("SPARK_GRAFT_COLD_N", "3").toInt
    val results = names.map { name =>
      sampleControl(spark, sfDir, "cold") // load sentinel
      recordQueryEvent("cold", name)
      name -> (try {
        val samples = (1 to nSamples).map { _ =>
          graft.queries.DedupQueries.releaseSignatureCache()
          graft.queries.SimilarityQueries.releaseCaches()
          graft.queries.ParityQueries.releaseCaches()
          graft.queries.EventQueries.releaseCaches()
          graft.queries.TextQueries.releaseCaches()
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        Right(samples)
      } catch {
        case scala.util.control.NonFatal(e) =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      })
    }
    graft.queries.DedupQueries.releaseSignatureCache()
    graft.queries.SimilarityQueries.releaseCaches()
    graft.queries.ParityQueries.releaseCaches()
    graft.queries.EventQueries.releaseCaches()
    graft.queries.TextQueries.releaseCaches()
    sampleControl(spark, sfDir, "cold") // trailing flank sentinel
    // the FIRST (truly cold) sample is this tier's metric; the spread
    // across samples gives the alarm its band
    results.collect { case (k, Right(s)) if s.nonEmpty =>
      tierTimes(s"cold/$k") = s.head
      tierSpreads(s"cold/$k") = (s.min, s.max)
    }
    val qs = results.map {
      case (k, Right(s)) => "\"" + esc(k) + s"""":[${s.mkString(",")}]"""
      case (k, Left(_))  => "\"" + esc(k) + "\":null"
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(e)) =>
      "\"" + esc(k) + "\":\"" + esc(e) + "\"" }
    val errJson = if (errs.isEmpty) "" else errs.mkString(""","errors":{""", ",", "}")
    s"""{"n":$nSamples,"stat":"samples_chronological","queries":$qs$errJson,"failed":${errs.size}}"""
  }

  /** Entry: take the exclusive bench lock FIRST (round-13 verdict ask
    * 2 — the double-bench collision made mechanical; see [[BenchLock]]),
    * then run. The close-out chain relies on this: a second bench
    * launched while one is running exits 3 with the holder's identity
    * instead of silently cross-contaminating both runs' measurements.
    */
  def main(args: Array[String]): Unit = {
    val lockPath = Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_LOCK", BenchLock.DefaultName))
    val holder = BenchLock.acquireOrDie(lockPath)
    // the body ends in sys.exit on query failure, which skips finally
    // blocks — a shutdown hook covers that path (and SIGTERM); stale
    // PID detection covers kill -9
    val hook = new Thread(() => BenchLock.release(lockPath, holder.pid))
    Runtime.getRuntime.addShutdownHook(hook)
    try benchMain(args)
    finally {
      BenchLock.release(lockPath, holder.pid)
      try Runtime.getRuntime.removeShutdownHook(hook)
      catch { case _: IllegalStateException => () }
    }
  }

  private def benchMain(args: Array[String]): Unit = {
    val wallT0 = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    val nSamples = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "3").toInt
    val spark = Sessions.local(cpus, "graft-bench")

    def run(name: String): Either[String, Double] =
      try {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case scala.util.control.NonFatal(e) =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

    val names = SparkEntry.benchQueries
    names.foreach(run) // warm-up: JIT/codegen cost lands outside the measured runs
    // flush the warm-up pass's data residue ONCE before the measured
    // blocks: the first sample block's clearCache() otherwise pays the
    // unpersist + GC of every cache the pass built (measured: with a
    // cache-heavy query in the set, the first two sample blocks read
    // 0.91/0.92 s vs their 0.24-0.35 s steady state)
    graft.queries.DedupQueries.releaseSignatureCache()
    graft.queries.SimilarityQueries.releaseCaches()
    graft.queries.ParityQueries.releaseCaches()
    graft.queries.EventQueries.releaseCaches()
    graft.queries.TextQueries.releaseCaches()
    spark.catalog.clearCache()
    val results = names.zipWithIndex.map { case (name, i) =>
      // load sentinel every 6th headline query (the tier's entries are
      // sub-second, so per-query sampling would double the tier's wall)
      if (i % 6 == 0) sampleControl(spark, sfDir, "headline")
      recordQueryEvent("headline", name)
      // One more untimed run IMMEDIATELY before the sample block (the
      // stress tier's protocol): the global pass above is ~80 query
      // executions old by the time late queries are measured, and the
      // JIT state it built can be evicted/deoptimized in between —
      // an n=10 A/B measured sim1 decaying 0.68 → 0.30 s from a cold
      // JIT vs a stable 0.26-0.30 s re-warmed, which is the round 3-5
      // 0.29 ↔ 0.46 s oscillation on unchanged code.
      run(name)
      val samples = (1 to nSamples).map { _ =>
        spark.catalog.clearCache() // every sample starts data-cold
        run(name)
      }
      // ANY failed sample marks the query failed — a flaky query must
      // never report a clean median-of-the-survivors (the round-1
      // "failures are not swallowed" contract applies per sample)
      val ok = samples.collect { case Right(t) => t }
      // record the headline band too — the movers alarm's spread guard
      // was blind on this tier (r9: both fired alarms were headline
      // entries with no [min,max] context in the mirror)
      if (samples.forall(_.isRight) && ok.nonEmpty)
        tierSpreads(s"headline/$name") = (ok.min, ok.max)
      name -> (samples.collectFirst { case Left(e) => e } match {
        case Some(e) => Left(e)
        case None    => Right(median(ok))
      })
    }
    // trailing sentinel: without it the tier's last ~5 queries have no
    // FOLLOWING control sample and the flank rule is one-sided there
    // (r12's a51 ran at position 25 of 26 — the burst rule caught it,
    // but a trailing sample makes the flank evidence symmetric)
    sampleControl(spark, sfDir, "headline")
    graft.queries.DedupQueries.releaseSignatureCache()
    graft.queries.SimilarityQueries.releaseCaches()
    graft.queries.ParityQueries.releaseCaches()
    graft.queries.EventQueries.releaseCaches()
    graft.queries.TextQueries.releaseCaches()
    results.collect { case (k, Right(t)) => tierTimes(s"headline/$k") = t }

    // streaming throughput (round-3 verdict item 2): separate failure
    // domain — a streaming error must not zero the batch numbers, but
    // is still reported, never swallowed
    val streaming: Either[String, Option[String]] =
      if (sys.env.contains("SPARK_GRAFT_STREAM_SKIP")) Right(None)
      else try Right(Some(streamingBench(spark)))
      catch {
        case scala.util.control.NonFatal(e) =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
    val streamingDocs: Either[String, Option[String]] =
      if (sys.env.contains("SPARK_GRAFT_STREAM_SKIP")) Right(None)
      else try Right(Some(docStreamingBench(spark, sfDir)))
      catch {
        case scala.util.control.NonFatal(e) =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
    val streamingStateful: Either[String, Option[String]] =
      if (sys.env.contains("SPARK_GRAFT_STREAM_SKIP")) Right(None)
      else try Right(Some(statefulStreamingBench(spark)))
      catch {
        case scala.util.control.NonFatal(e) =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
    val streamingAnn: Either[String, Option[String]] =
      if (sys.env.contains("SPARK_GRAFT_STREAM_SKIP")) Right(None)
      else try Right(Some(streamingAnnBench(spark, sfDir)))
      catch {
        case scala.util.control.NonFatal(e) =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
    // stress-scale block: same separate-failure-domain contract
    val stress: Either[String, Option[String]] =
      if (sys.env.contains("SPARK_GRAFT_STRESS_SKIP")) Right(None)
      else try Right(Some(stressBench(spark, sfDir)))
      catch {
        case scala.util.control.NonFatal(e) =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
    // heavy-tail tier: same contract
    val heavy: Either[String, Option[String]] =
      if (sys.env.contains("SPARK_GRAFT_HEAVY_SKIP")) Right(None)
      else try Right(Some(heavyBench(spark, sfDir)))
      catch {
        case scala.util.control.NonFatal(e) =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
    // cold tier: same contract (runs last — its cache teardown must
    // not perturb the other blocks)
    val cold: Either[String, Option[String]] =
      if (sys.env.contains("SPARK_GRAFT_COLD_SKIP")) Right(None)
      else try Right(Some(coldBench(spark, sfDir)))
      catch {
        case scala.util.control.NonFatal(e) =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }

    val (qs, errJson, nErr) = resultJson(results)
    val total = results.collect { case (_, Right(t)) => t }.sum
    // named to avoid shadowing the streamJson(...) formatter method
    val streamBlock = streaming match {
      case Right(Some(obj)) => s""","streaming":$obj"""
      case Right(None)      => ""
      case Left(e)          => s""","streaming_err":"${esc(e)}""""
    }
    val streamDocsJson = streamingDocs match {
      case Right(Some(obj)) => s""","streaming_docs":$obj"""
      case Right(None)      => ""
      case Left(e)          => s""","streaming_docs_err":"${esc(e)}""""
    }
    val streamStatefulJson = streamingStateful match {
      case Right(Some(obj)) => s""","streaming_stateful":$obj"""
      case Right(None)      => ""
      case Left(e)          => s""","streaming_stateful_err":"${esc(e)}""""
    }
    val streamAnnJson = streamingAnn match {
      case Right(Some(obj)) => s""","streaming_ann":$obj"""
      case Right(None)      => ""
      case Left(e)          => s""","streaming_ann_err":"${esc(e)}""""
    }
    val stressJson = stress match {
      case Right(Some(obj)) => s""","stress8x":$obj"""
      case Right(None)      => ""
      case Left(e)          => s""","stress8x_err":"${esc(e)}""""
    }
    val coldJson = cold match {
      case Right(Some(obj)) => s""","cold":$obj"""
      case Right(None)      => ""
      case Left(e)          => s""","cold_err":"${esc(e)}""""
    }
    val heavyJson = heavy match {
      case Right(Some(obj)) => s""","heavy":$obj"""
      case Right(None)      => ""
      case Left(e)          => s""","heavy_err":"${esc(e)}""""
    }
    // alarm + mirror ONLY on full default-tier runs at the driver's
    // SF: a subset/custom run must not clobber the baseline or ratio
    // against incomparable numbers (the Verify mirror's discipline)
    val fullDefaultRun =
      sfDir.replaceAll("/+$", "").endsWith("sf0.1") &&
        Seq("SPARK_GRAFT_STREAM_SKIP", "SPARK_GRAFT_STRESS_SKIP",
          "SPARK_GRAFT_COLD_SKIP", "SPARK_GRAFT_HEAVY_SKIP",
          "SPARK_GRAFT_STRESS_QUERIES", "SPARK_GRAFT_COLD_QUERIES",
          "SPARK_GRAFT_HEAVY_QUERIES", "SPARK_GRAFT_BENCH_QUERIES")
          .forall(k => !sys.env.contains(k)) &&
        sys.env.getOrElse("SPARK_GRAFT_STRESS_COPIES", "8") == "8"
    val moversBlock = moversJson(fullDefaultRun,
      (System.nanoTime() - wallT0) / 1e9)
    // benched-at-HEAD check (round-11 verdict ask 5): registry queries
    // absent from VERIFY_TIMES.json postdate the last full verify
    // sweep and are therefore INVISIBLE to the heavy-tier promotion
    // policy — a78_seasonal_mk landed top-5 of the r10 sweep yet was
    // never benched that round because it was added after the
    // close-out bench. The close-out discipline is: full sweep, then
    // full bench, and this list must be EMPTY on the round's final
    // bench line.
    // a read failure must NOT report false-clean (the "failures are
    // not swallowed" contract): an unreadable VERIFY_TIMES ships as an
    // explicit error member, never as "never_benched":[]
    val neverBenched: Either[String, Seq[String]] = try {
      val vtPath = Paths.get("VERIFY_TIMES.json")
      if (!Files.exists(vtPath)) Left("VERIFY_TIMES.json missing")
      else {
        val vt = BenchMirror.parseTimes(Files.readString(vtPath)).keySet
        Right((SparkEntry.queries.keySet -- vt).toSeq.sorted)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
    }
    val neverJson = neverBenched match {
      case Right(missing) =>
        if (missing.nonEmpty)
          System.err.println(s"[bench] NEVER-BENCHED (absent from VERIFY_TIMES " +
            s"— invisible to heavy promotion): ${missing.mkString(",")}")
        s""","never_benched":[${missing.map(k => "\"" + esc(k) + "\"").mkString(",")}]"""
      case Left(err) =>
        System.err.println(s"[bench] WARNING never_benched check failed: $err")
        s""","never_benched_err":"${esc(err)}""""
    }
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$errJson$streamBlock$streamDocsJson$streamStatefulJson$streamAnnJson$stressJson$heavyJson$coldJson$moversBlock$neverJson,"sf":"${esc(sfDir)}","n":$nSamples,"stat":"median","failed":$nErr}"""
    Files.writeString(Paths.get(outFile), line + "\n")
    println(line)
    spark.stop()
    if (nErr > 0) sys.exit(1)
  }
}
