package graft.perfbench

import graft.core.{BufferedVectorStore, ReadCachedStore, VectorStore}

/** The reference's flagship row type, with the timestamp kept as unix
  * seconds (the reference serializes it with a seconds serde).
  */
final case class ChatMessage(messageId: Long, sender: String, content: String,
                             receiver: String, timestamp: Long)

/** `chat_log`: an append-only chat history served through the reference's
  * cache stack, `ReadCachedStore` over `BufferedVectorStore` over
  * `VectorStore`. Closed loop: one writer and three readers, each issuing
  * its next call `thinkMs` after the previous one returned.
  *
  *  - set-up: `VectorStore.create` + `pushx` of `rows` seeded records,
  *    repeated `setups` times into fresh roots (the last one is served);
  *  - writer: 1k-row `pushx` batches on a fixed schedule of `appendRate`
  *    rows/s into a buffer that flushes at `maxItems` (a flush every 2.5 s,
  *    so reads meet a flush in progress now and then); `close()` at the end
  *    of the timed phase;
  *  - readers: a seeded mix of `getting` (95%) and 100-row `gettingLot`
  *    pages (every 20th call; a page that reaches the files is a Spark job,
  *    and at 10% the readers kept all cores busy with them, so every latency
  *    swung with outside load); half the keys from the newest `newest` ids,
  *    half Zipf over all ids;
  *  - the LRU starts full, loaded with the keys the readers draw;
  *  - latencies and counters cover `seconds` after a `warmupSeconds` warm-up
  *    of the same loop: the JIT compilers stay busy for about ten seconds of
  *    it, and a window that starts sooner keeps speeding up as it runs;
  *    `getting` calls that miss the LRU and read flushed files are also
  *    timed as their own class;
  *  - then one `getall` readback. Every record read is compared with the
  *    generator.
  */
object ChatLog {
  val rows = 200000
  val readers = 3
  val pushBatch = 1000
  val maxItems = 50000
  val appendRate = 20000.0
  val warmupSeconds = 13.0
  val newest = 20000
  val rangeLen = 100
  val rangeFrac = 0.05
  // a reader's pause between calls, as a user reading; it also keeps a run
  // below the descriptor limit, since the store leaks descriptors per read
  // (about 12k of 20k open at the end of a run at 10 ms)
  val thinkMs = 10L
  val warmDraws = 5 * rows / 20
  val zipfS = 1.0

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Record `i` of the history for `seed`: a pure function of both. */
  def row(seed: Long, i: Long): ChatMessage = {
    val h = mix(seed * 0x2545F4914F6CDD1DL + i)
    ChatMessage(i, s"sender ${(h >>> 1) % 997}",
      s"hello, world!  这是地${i + 1}条消息 ${java.lang.Long.toHexString(h)}",
      s"receiver ${(h >>> 21) % 997}", 1700000000L + i)
  }

  /** One reader call: a page read or a point read, and where its key falls. */
  final case class Op(range: Boolean, newestKey: Boolean, u: Double) {
    /** The key against a history of `len` records. */
    def key(len: Long): Long = {
      val k =
        if (newestKey) len - 1 - math.floor(u * math.min(newest.toLong, len)).toLong
        else ChatLog.zipf(u, len)
      if (range) math.max(0L, math.min(k, len - rangeLen)) else k
    }
  }

  /** Rank (0-based) of a Zipf(`zipfS`) draw over `n` keys by inverting the
    * continuous CDF at `u` in [0, 1).
    */
  def zipf(u: Double, n: Long): Long = {
    val x =
      if (zipfS == 1.0) math.pow(n + 1.0, u)
      else math.pow(1.0 + u * (math.pow(n + 1.0, 1 - zipfS) - 1.0), 1.0 / (1 - zipfS))
    math.max(0L, math.min(n - 1, x.toLong - 1))
  }

  /** Reader `thread`'s op sequence: a pure function of (seed, thread).
    * Every `1 / rangeFrac`-th op is a page, so each stretch of a run holds
    * the same share of pages whatever the seed.
    */
  final class Schedule(seed: Long, thread: Int) {
    private val rnd = new java.util.Random(mix(seed * 31 + thread))
    private val period = math.round(1 / rangeFrac)
    private var n = 0L
    def next(): Op = {
      n += 1
      Op(n % period == 0, rnd.nextBoolean(), rnd.nextDouble())
    }
  }

  def run(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    val (seed, rec, trace) = (ctx.seed, ctx.rec, ctx.tracer)
    val history = (0 until rows).map(i => row(seed, i.toLong))

    // set-up, repeated into fresh roots; the last store is served
    var store: VectorStore[ChatMessage] = null
    (0 until Ctx.setups).foreach { r =>
      val t0 = System.nanoTime()
      store = trace("core", "VectorStore.create+pushx") {
        val s = VectorStore.create[ChatMessage](ctx.spark, s"${ctx.work}/chat-$r")
        s.pushx(history)
        s
      }
      rec.sample("setup_s", (System.nanoTime() - t0) / 1e9)
    }
    rec.set("core.setup_pushx_s", rec.median("setup_s"))
    val root = s"${ctx.work}/chat-${Ctx.setups - 1}"

    // samples count only once the warm-up is over; each carries its start
    // time so the metrics can be taken per round of the measured window
    @volatile var measuring = false
    @volatile var measureStart = 0L
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      if (measuring) rec.sampleAt(name, (System.nanoTime() - t0) / 1e6, (t0 - measureStart) / 1e9)
      r
    }
    val buffered = new BufferedVectorStore[ChatMessage](store, maxItems)
    @volatile var pushed = rows.toLong
    // set by the fetch below when a `getting` missed the LRU and its key was
    // already flushed, so the read went to the store's files
    val readFiles = ThreadLocal.withInitial[java.lang.Boolean](() => false)
    val cache = new ReadCachedStore[ChatMessage](
      i => {
        readFiles.set(i < pushed - buffered.bufferedCount)
        trace("core", "BufferedVectorStore.get") { timed("fetch_ms")(buffered.get(i)) }
      },
      (i, n) => buffered.getx(i, n),
      capacity = rows / 20)
    // the LRU starts as a long-serving one would: loaded (`addToCache`, the
    // reference's warm-up call) with the keys `warmDraws` reader ops draw,
    // their records read from the store by one `getall`; filling it from
    // empty takes longer than a run, so a cold LRU gives a hit ratio that
    // climbs through the measured window
    val snapshot = store.getall().getOrElse(Seq.empty).toIndexedSeq
    val warm = new Schedule(seed, readers)
    (0 until warmDraws).foreach { _ =>
      val op = warm.next()
      if (!op.range) { val k = op.key(rows.toLong); cache.addToCache(k, snapshot(k.toInt)) }
    }

    rec.set("flush_cycle_s", maxItems / appendRate)
    val start = System.nanoTime()
    val deadline = start + ((warmupSeconds + ctx.seconds) * 1e9).toLong
    var depthMax = 0
    val writer = new Thread(() => {
      var k = 0L
      while (System.nanoTime() < deadline) {
        // open-loop schedule: batch k is due k * pushBatch / appendRate s in
        val due = start + (k * pushBatch / appendRate * 1e9).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        val batch = (pushed until pushed + pushBatch).map(row(seed, _))
        timed("push_ack_ms")(trace("core", "BufferedVectorStore.pushx")(buffered.pushx(batch)))
        pushed += pushBatch
        k += 1
        depthMax = math.max(depthMax, buffered.bufferedCount)
      }
      timed("close_ms")(trace("core", "BufferedVectorStore.close")(buffered.close()))
      rec.set("core.append_rows_per_s", (pushed - rows) / ((System.nanoTime() - start) / 1e9))
    }, "chat-writer")

    val readerThreads = (0 until readers).map { t =>
      new Thread(() => {
        val schedule = new Schedule(seed, t)
        var req = 0L
        while (System.nanoTime() < deadline) {
          val op = schedule.next()
          // every row the writer has pushed is readable through the buffer;
          // the writer's own count spares a `len` call (and its manifest
          // listing) per op
          val key = op.key(pushed)
          req += 1
          rec.attempt()
          if (op.range) {
            val page = timed("range_ms") {
              trace("core", "ReadCachedStore.gettingLot", req)(cache.gettingLot(key, rangeLen))
            }
            val ok = page.exists(p => p.size == rangeLen &&
              p.indices.forall(j => p(j) == row(seed, key + j)))
            if (!ok) rec.fail(s"chat_log gettingLot($key, $rangeLen) returned a wrong page")
          } else {
            readFiles.set(false)
            val g0 = System.nanoTime()
            val got = timed("get_ms") {
              trace("core", "ReadCachedStore.getting", req)(cache.getting(key))
            }
            if (measuring && readFiles.get)
              rec.sampleAt("get_file_ms", (System.nanoTime() - g0) / 1e6, (g0 - measureStart) / 1e9)
            if (!got.contains(row(seed, key))) rec.fail(s"chat_log getting($key) returned $got")
          }
          Thread.sleep(thinkMs)
        }
      }, s"chat-reader-$t")
    }
    writer.start()
    readerThreads.foreach(_.start())
    Thread.sleep((warmupSeconds * 1000).toLong)
    val before = ctx.probe.snapshot()
    val fds0 = Ctx.openFds
    val (hits0, misses0) = cache.stats
    val t0 = System.nanoTime()
    measureStart = t0
    measuring = true
    readerThreads.foreach(_.join())
    // rows handed to readers per second: a point read is one, a page rangeLen
    rec.set("rows_per_s", (rec.count("get_ms") + rangeLen * rec.count("range_ms")) /
      ((System.nanoTime() - t0) / 1e9))
    writer.join()
    // descriptors the process gained over the measured window (the store's
    // directory listings are not closed, so this grows with point reads)
    rec.set("core.fd_growth", (Ctx.openFds - fds0).toDouble)
    rec.set("fds_open", Ctx.openFds.toDouble)

    val (hits, misses) = (cache.stats._1 - hits0, cache.stats._2 - misses0)
    rec.set("core.cache_hits", hits.toDouble)
    rec.set("core.cache_misses", misses.toDouble)
    rec.set("core.cache_hit_ratio", hits.toDouble / math.max(1L, hits + misses))
    rec.set("core.buffer_depth_max", depthMax.toDouble)

    // readback: every record, in order
    rec.attempt()
    val s0 = System.nanoTime()
    val all = trace("core", "VectorStore.getall")(store.getall()).getOrElse(Seq.empty)
    rec.set("core.scan_rows_per_s", all.size / ((System.nanoTime() - s0) / 1e9))
    if (all.size != pushed) rec.fail(s"chat_log getall returned ${all.size} rows, expected $pushed")
    else {
      val bad = all.indices.find(i => all(i) != row(seed, i.toLong))
      bad.foreach(i => rec.fail(s"chat_log getall row $i differs from the generator"))
    }
    ctx.layerDiff(before)

    rec.set("core.store_batches", store.table.manifest.batches.size.toDouble)
    rec.set("core.bytes_per_row", Ctx.bytesUnder(root) / math.max(1L, store.len).toDouble)
    rec.set("rows_appended", (pushed - rows).toDouble)
  }
}
