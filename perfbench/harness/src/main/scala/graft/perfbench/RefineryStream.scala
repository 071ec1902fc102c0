package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference

import graft.core.{Tables, VectorTable}
import graft.operators.{IvfTableIndex, LshIndex, PerfbenchAccess, Pipeline, Similarity, SpanIndex}
import graft.streaming.RefineryIngest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** `refinery_stream`: the composed streaming write path. Set-up stages the
  * fused (vec_id, text, embedding) corpus as `files` parquet files over
  * equal vec_id ranges, then creates the five tables and the empty span,
  * lexical and IVF indexes the way `Pipeline.refineryRoot` does; it is
  * repeated over fresh copies of the corpus. The timed phase runs
  * `RefineryIngest.start` on a directory the harness feeds in a closed
  * loop: it drops in the next staged file once the previous one has
  * landed, in vec_id order, until `seconds` have passed and at least
  * `minBatches` files landed. A file's latency runs from its arrival to the
  * end of the micro-batch that ingested it.
  */
object RefineryStream {
  val files = 20
  val minBatches = 2

  def run(ctx: Ctx): Unit = {
    val (s, rec, trace) = (ctx.spark, ctx.rec, ctx.tracer)

    final case class Staged(root: String, evalIds: Array[Long], evalVecs: Array[Array[Float]],
                            schema: org.apache.spark.sql.types.StructType, tables: Seq[VectorTable],
                            spanIdx: SpanIndex, lexIdx: LshIndex, ivf: IvfTableIndex)

    // exclusive vec_id upper bound of staged files 0..i
    var bounds: Seq[Long] = Nil

    def setup(r: Int): Staged = {
      val d = Ctx.copyDir(ctx.data, s"${ctx.work}/refinery-corpus-$r")
      val root = s"${ctx.work}/refinery-$r"
      val mod = Pipeline.refineryEvalMod
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val fused = Tables.documents(s, d)
        .select(col("doc_id").as("vec_id"), col("text"))
        .join(emb, Seq("vec_id"))
        .where(col("vec_id") % mod =!= 0)
        .select(col("vec_id"), col("text"), col("embedding"))
      val evalRows = emb.where(col("vec_id") % mod === 0).orderBy("vec_id").collect()
      val maxId = fused.agg(max(col("vec_id"))).head.getLong(0)
      trace("operators", "stage") {
        fused.withColumn("part", (col("vec_id") * files / (maxId + 1)).cast("int"))
          .repartition(col("part")).sortWithinPartitions("part", "vec_id")
          .write.partitionBy("part").parquet(s"$root/stage")
      }
      val staging = Files.createDirectories(Paths.get(s"$root/staging"))
      (0 until files).foreach { i =>
        val dir = Paths.get(s"$root/stage/part=$i")
        if (Files.isDirectory(dir)) {
          val listing = Files.list(dir)
          try listing.iterator().forEachRemaining { p =>
            if (p.getFileName.toString.endsWith(".parquet"))
              Files.move(p, staging.resolve(f"f$i%03d.parquet"))
          } finally listing.close()
        }
      }
      val tables = trace("core", "VectorTable.create") {
        Seq("docs", "hashes", "spans", "lex", "emb").map(n => VectorTable.create(s, s"$root/$n"))
      }
      val spanIdx = trace("operators", "SpanIndex.build")(SpanIndex.build(tables(2), s"$root/spanindex"))
      val lexIdx = trace("operators", "LshIndex.build")(LshIndex.build(tables(3), s"$root/lexindex"))
      val ivf = trace("operators", "IvfTableIndex.buildWith") {
        IvfTableIndex.buildWith(tables(4), s"$root/index", PerfbenchAccess.centroids(s, d))
      }
      bounds = (1 to files).map(i => (maxId + 1) * i / files)
      Staged(root, evalRows.map(_.getLong(0)), evalRows.map(_.getSeq[Float](1).toArray),
        fused.schema, tables, spanIdx, lexIdx, ivf)
    }

    var st: Staged = null
    (0 until Ctx.setups).foreach { r =>
      val t0 = System.nanoTime()
      st = setup(r)
      rec.sample("setup_s", (System.nanoTime() - t0) / 1e9)
    }

    val landedBatches = new java.util.concurrent.LinkedBlockingQueue[java.lang.Long]()
    val progress = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
          rec.sample("trigger_ms", ms("triggerExecution"))
          rec.sample("add_batch_ms", ms("addBatch"))
          rec.sample("plan_ms", ms("queryPlanning"))
          rec.sample("get_batch_ms", ms("getBatch"))
          rec.sample("wal_commit_ms", ms("walCommit"))
          landedBatches.put(p.batchId)
        }
      }
    }
    s.streams.addListener(progress)

    val Seq(docs, hashes, spans, lex, embT) = st.tables
    val acc = new AtomicReference(RefineryIngest.Counts.zero)
    val before = ctx.probe.snapshot()
    val feed = Files.createDirectories(Paths.get(s"${st.root}/feed"))
    val t0 = System.nanoTime()
    var fed = 0
    var wallS = 0.0
    trace("streaming", "RefineryIngest.start") {
      val stream = s.readStream.schema(st.schema)
        .option("maxFilesPerTrigger", 1).parquet(feed.toString)
      val q = RefineryIngest.start(stream, docs, hashes, spans, lex, embT,
        new AtomicReference(st.spanIdx), new AtomicReference(st.lexIdx), new AtomicReference(st.ivf),
        st.evalIds, st.evalVecs, Pipeline.minQuality, Similarity.nearDupThreshold,
        s"${st.root}/ckpt", acc, trigger = Trigger.ProcessingTime("50 milliseconds"))
      trace.adopt(q.runId.toString)
      var live = true
      while (live && fed < files &&
             (fed < minBatches || System.nanoTime() - t0 < ctx.seconds * 1e9)) {
        val name = f"f$fed%03d.parquet"
        val arrive = System.nanoTime()
        Files.move(Paths.get(s"${st.root}/staging/$name"), feed.resolve(name))
        live = landedBatches.poll(120, java.util.concurrent.TimeUnit.SECONDS) != null
        if (live) {
          rec.sample("batch_ms", (System.nanoTime() - arrive) / 1e6)
          fed += 1
        } else rec.fail(s"refinery_stream: $name did not land within 120 s (${q.exception})")
      }
      wallS = (System.nanoTime() - t0) / 1e9
      q.stop()
      q.exception.foreach(e => rec.fail(s"refinery_stream query failed: ${e.getMessage}"))
    }
    ctx.layerDiff(before)
    s.streams.removeListener(progress)

    val c = acc.get()
    rec.attempt(c.input)
    rec.set("rows_per_s", c.input / wallS)
    // the ingested files cover vec_id < this bound
    rec.set("streaming.vec_id_bound", bounds(math.max(0, fed - 1)).toDouble)
    Seq("input" -> c.input, "quality_dropped" -> c.qualityDropped,
      "exact_dropped" -> c.exactDropped, "span_dropped" -> c.spanDropped,
      "lexical_dropped" -> c.lexicalDropped, "contam_dropped" -> c.contamDropped,
      "semantic_dropped" -> c.semanticDropped, "landed" -> c.landed)
      .foreach { case (k, v) => rec.set(s"streaming.$k", v.toDouble) }
    rec.set("streaming.landed_ratio", c.landed.toDouble / math.max(1L, c.input))

    val drops = c.qualityDropped + c.exactDropped + c.spanDropped + c.lexicalDropped +
      c.contamDropped + c.semanticDropped
    if (c.input == 0) rec.fail("refinery_stream ingested no rows")
    if (drops + c.landed != c.input)
      rec.fail(s"refinery_stream input ${c.input} != drops $drops + landed ${c.landed}")
    if (docs.length != c.landed) rec.fail(s"refinery_stream docs table has ${docs.length} rows, landed ${c.landed}")
    if (embT.length != c.landed) rec.fail(s"refinery_stream embeddings table has ${embT.length} rows, landed ${c.landed}")
  }
}
