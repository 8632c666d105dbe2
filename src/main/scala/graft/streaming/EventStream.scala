package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming pipeline over the events table (SURVEY.md §2.11:
  * the reference fakes streaming with cron + delete-after-read; here it is
  * a real `readStream` with event-time semantics).
  *
  *  - [[hourlyCounts]]: watermarked tumbling-window aggregation.
  *  - [[sessionize]]: stateful gap-based sessionization via
  *    `flatMapGroupsWithState` (the custom-state escape hatch).
  *
  * Both run against the parquet file source so a batch of files drives the
  * stream; in production the source swaps for kafka/delta with no change
  * to the transforms.
  */
object EventStream {

  /** The shuffle width every streaming replay runner (these and the
    * foreachBatch family on [[FileIngest.withPartitions]]) defaults
    * to: sized to the replay corpus, not the session default. It must
    * stay ≤ [[graft.SparkTuning.bypassMergeThreshold]], so these
    * stateful shuffles keep Spark's bypass writer, which measured
    * faster for them than the serialized sort writer (see the
    * SparkTuning scaladoc); GraftSessionSpec ties the two. */
  val ReplayPartitions: Int = 2

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)

  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  // NOT private: the streaming state-store encoder generates bytecode in
  // another package, and a private constructor fails Janino compilation
  // ("no applicable constructor") only once the STREAMING path serializes
  // state — batch flatMapGroupsWithState never hits it.
  final case class SessionState(start: Long, end: Long, n: Long,
      total: Double)

  /** Streaming source over the events parquet, normalizing `ts` through
    * the exact same dispatch as the batch loader
    * ([[graft.Tables.normalizeTs]] — one shared code path, so the
    * batch/stream contract cannot drift).
    *
    * `events.parquet` may be a FLAT FILE (the driver's testdata layout)
    * or a DIRECTORY of part files (what `df.write.parquet` produces) —
    * the file-stream source wants a directory either way, so the layout
    * decides the root: a directory streams directly; a flat file streams
    * the parent with a glob filter on the leaf name (pathGlobFilter
    * matches leaf file names only, which is why it cannot see part files
    * inside a directory-shaped table). The nanosAsLong conf stays set for
    * the life of the stream when the generation read as int64 — same
    * scoping rule and reason as the batch loader. */
  def source(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val table = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val isDir = fs.getFileStatus(table).isDirectory
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    val schema = spark.read.parquet(table.toString).schema
    if (schema("ts").dataType != LongType) prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    val raw =
      if (isDir) spark.readStream.schema(schema).parquet(table.toString)
      else spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
    graft.Tables.normalizeTs(raw)
  }

  /** Tumbling 1-hour window counts with a 2-hour watermark — the
    * streaming twin of the batch q15 aggregation (same results on a
    * complete replay). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_millis(col("window.start")).as("hr_ms"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding 1-hour windows every 15 minutes — each event lands in 4
    * windows; same transform shape as [[hourlyCounts]]. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("win_ms"),
        col("event_type"), col("n"))

  /** Stream-stream INTERVAL JOIN with watermarks on both sides: each
    * purchase pairs with the same user's clicks from the preceding hour.
    * The watermark + the two-sided time-range condition bound the join
    * state on both sides (Spark evicts rows that can no longer match) —
    * the canonical two-stream enrichment shape that survives unbounded
    * input. Inner join → append mode. */
  def purchaseClickPairs(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    purchases.join(clicks, expr(
        "p_user = c_user AND " +
          "c_ts >= p_ts - interval 1 hour AND c_ts <= p_ts"))
      .select(col("p_event_id"), col("p_user"),
        unix_millis(col("p_ts")).as("p_ms"),
        unix_millis(col("c_ts")).as("c_ms"))
  }

  /** STREAM-STATIC enrichment: the event stream joined to a batch
    * dimension table (customer market segment), then aggregated. The
    * static side needs no watermark and holds no streaming state — each
    * micro-batch joins against the (broadcast) dimension as-of that
    * batch, the canonical "enrich events with reference data" shape.
    * At scale the dimension is the small side by construction: broadcast
    * keeps the stream's shuffle for the aggregation only. */
  def enrichedSegmentStats(events: DataFrame,
      customers: DataFrame): DataFrame =
    events.join(broadcast(customers),
        events("user_id") === customers("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("sum_value"))

  /** Append-mode run: only watermark-finalized windows are emitted — the
    * at-most-once-per-window delivery a downstream sink wants.
    * `shufflePartitions` sizes the stateful-operator partition count for
    * the run (state stores are per partition per stateful op — size to
    * the stream's volume, not the session default) and is restored after.
    */
  def runAppend(spark: SparkSession, dir: String,
      transform: DataFrame => DataFrame,
      queryName: String,
      shufflePartitions: Option[Int] = Some(ReplayPartitions)): DataFrame =
    FileIngest.withPartitions(spark, shufflePartitions) {
      val q = transform(source(spark, dir)).writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table(queryName)
    }

  /** Append-mode tumbling 1-hour counts over a SHARDED backlog drained
    * one file per micro-batch in modification-time order, with a SHORT
    * watermark so planted late arrivals actually fall behind it — the
    * late-data accounting face (q225): the watermark sequence is a
    * pure function of (file order, file contents), so which rows get
    * dropped and which windows get emitted is deterministic and
    * SQL-replayable. Spark's streaming-aggregation late rule is
    * WINDOW-scoped and runs against the LAGGED watermark: each batch
    * filters late input with the PREVIOUS batch's eviction watermark
    * (eventTimeWatermarkForLateEvents) while evicting state with the
    * current one — so a closed-window row arriving in the very batch
    * whose eviction finalizes its window still merges, a row arriving
    * any batch later is dropped, and a row OLDER than the watermark
    * whose window is still open always aggregates (all three pinned
    * in WatermarkLateSpec). Emitted set at drain end = windows whose
    * end the final watermark passed (the no-data-batch flush, q101's
    * machinery). Returns (w_start_ms, n_events). */
  /** Write `sharded` as one parquet FILE per shard value, named
    * `shard-<k>.parquet`, with STRICTLY INCREASING pinned modification
    * times — the file stream's (modTime, path) order then equals the
    * shard order on every replay regardless of write timing, which is
    * what makes [[runLateAppend]]'s watermark sequence a pure function
    * of the data. */
  def writeShardedBacklog(spark: SparkSession, dir: String,
      sharded: DataFrame, shardCol: String, nShards: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    for (k <- 0 until nShards) {
      val tmp = s"$dir/_build_$k"
      sharded.filter(col(shardCol) === k).drop(shardCol)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for shard $k"))
      val dest = new org.apache.hadoop.fs.Path(s"$dir/shard-$k.parquet")
      fs.rename(part, dest)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      fs.setTimes(dest, 1700000000000L + k * 60000L, -1)
    }
  }

  def runLateAppend(spark: SparkSession, srcDir: String, delay: String,
      queryName: String = "graft_late",
      shufflePartitions: Option[Int] = Some(ReplayPartitions),
      windowDur: String = "1 hour",
      slide: Option[String] = None): DataFrame =
    FileIngest.withPartitions(spark, shufflePartitions) {
      val schema = spark.read.parquet(srcDir).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val agg = src
        .withWatermark("ts", delay)
        .groupBy(window(col("ts"), windowDur, slide.getOrElse(windowDur)))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_millis(col("window.start")).as("w_start_ms"),
          col("n_events"))
      val q = agg.writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table(queryName)
    }

  /** Append-mode (window × grid-cell) DENSITY counts over a sharded
    * backlog — the streaming half of the density-clustering axis
    * (q241; batch DBSCAN is q239): cells are STATE KEYS, one count
    * per (1-hour window, ⌊value/eps⌋ cell), evicted when the
    * watermark passes the window end — exactly [[runLateAppend]]'s
    * tumbling protocol with the cell as an extra grouping key (the
    * q227 keyed-emission shape), so late rows ride the same lagged
    * watermark filter. The emitted (w_start_ms, cell, n) rows are the
    * per-window density histogram a downstream batch step clusters
    * (1-D grid DBSCAN: dense cells ≥ minPts, adjacent-cell merge).
    * State is |open windows| × |occupied cells| however large the
    * stream. */
  def runLateCellDensity(spark: SparkSession, srcDir: String,
      delay: String, eps: Double,
      queryName: String = "graft_cell_density",
      shufflePartitions: Option[Int] = Some(ReplayPartitions)): DataFrame =
    FileIngest.withPartitions(spark, shufflePartitions) {
      val schema = spark.read.parquet(srcDir).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val agg = src
        .withWatermark("ts", delay)
        .groupBy(window(col("ts"), "1 hour"),
          floor(col("value") / eps).cast("long").as("cell"))
        .agg(count(lit(1)).as("n"))
        .select(unix_millis(col("window.start")).as("w_start_ms"),
          col("cell"), col("n"))
      val q = agg.writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table(queryName)
    }

  /** 2-D sibling of [[runLateCellDensity]] (q242; VERDICT r14 #6):
    * per (1-hour window, ⌊value/epsV⌋ × ⌊user_id/epsU⌋ grid cell)
    * count, cells as state keys, eviction by window end alone — the
    * SAME keyed tumbling protocol (WatermarkLateSpec pins the 2-key
    * case next to q241's), so the dimensionality of the cell key is
    * provably irrelevant to late-data semantics. The emitted
    * (w_start_ms, cx, cy, n) state is what a downstream batch step
    * clusters with the q239 grid machinery (dense cells ≥ minPts,
    * 8-adjacent merge); 2-D components need a real closure, which
    * q242's oracle replays RECURSIVELY over the bounded dense-cell
    * set (a handful of cells per window — the q239 bounded-input
    * lesson, applied by construction this time). State is
    * |open windows| × |occupied cells| however large the stream. */
  def runLateCellDensity2d(spark: SparkSession, srcDir: String,
      delay: String, epsV: Double, epsU: Double,
      queryName: String = "graft_cell_density_2d",
      shufflePartitions: Option[Int] = Some(ReplayPartitions)): DataFrame =
    FileIngest.withPartitions(spark, shufflePartitions) {
      val schema = spark.read.parquet(srcDir).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val agg = src
        .withWatermark("ts", delay)
        .groupBy(window(col("ts"), "1 hour"),
          floor(col("value") / epsV).cast("long").as("cx"),
          floor(col("user_id") / epsU).cast("long").as("cy"))
        .agg(count(lit(1)).as("n"))
        .select(unix_millis(col("window.start")).as("w_start_ms"),
          col("cx"), col("cy"), col("n"))
      val q = agg.writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table(queryName)
    }

  /** UPDATE-mode tumbling counts over a sharded backlog — the third
    * output mode's emission protocol made checkable (q228; complete
    * mode is q41's face, append mode q225's): each micro-batch emits
    * every window whose state CHANGED, carrying the CUMULATIVE count,
    * and the memory sink accumulates one row per (window, updating
    * batch). Returns the accumulated updates summarized per window as
    * (w_start_ms, n_updates, n_final) — how many batches touched the
    * window and where its count ended. Late rows ride the same lagged
    * watermark filter; a surviving row can never hit an evicted
    * window (survival means end > lagged wm ≥ every earlier eviction
    * watermark — monotonicity), so the summary is a pure function of
    * the (window, shard) survivor matrix. */
  def runUpdateCounts(spark: SparkSession, srcDir: String,
      delay: String, queryName: String = "graft_update_late",
      shufflePartitions: Option[Int] = Some(ReplayPartitions)): DataFrame =
    FileIngest.withPartitions(spark, shufflePartitions) {
      val schema = spark.read.parquet(srcDir).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val agg = src
        .withWatermark("ts", delay)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_millis(col("window.start")).as("w_start_ms"),
          col("n_events"))
      val q = agg.writeStream
        .outputMode(OutputMode.Update)
        .format("memory").queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table(queryName)
        .groupBy(col("w_start_ms"))
        .agg(count(lit(1)).as("n_updates"),
          max(col("n_events")).as("n_final"))
    }

  /** Append-mode KEYED SESSION-window counts over a sharded backlog —
    * the session sibling of [[runLateAppend]] (q227): per-key sessions
    * (gap-merged; Spark requires a key — global streaming session
    * aggregation is unsupported), emitted once the watermark passes a
    * session's end (last event + gap). Late handling rides the same
    * lagged watermark; WatermarkLateSpec pins the session drop
    * predicate. Returns (k, s_start_ms, s_end_ms, n_events). */
  def runSessionAppend(spark: SparkSession, srcDir: String,
      delay: String, gap: String, keyCol: String = "k",
      queryName: String = "graft_session_late",
      shufflePartitions: Option[Int] = Some(ReplayPartitions)): DataFrame =
    FileIngest.withPartitions(spark, shufflePartitions) {
      val schema = spark.read.parquet(srcDir).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val agg = src
        .withWatermark("ts", delay)
        .groupBy(col(keyCol), session_window(col("ts"), gap))
        .agg(count(lit(1)).as("n_events"))
        .select(col(keyCol),
          unix_millis(col("session_window.start")).as("s_start_ms"),
          unix_millis(col("session_window.end")).as("s_end_ms"),
          col("n_events"))
      val q = agg.writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table(queryName)
    }

  /** Append-mode STREAM-STREAM interval join over a sharded backlog —
    * the stateful-JOIN late-data face (q233): one file source drained
    * a file per micro-batch, split into purchase and click sides
    * (each with its own watermark on the shared clock), inner-joined
    * on user within [p_ts - 1h, p_ts]. Which pairs the join emits is
    * the protocol under test: per-side input admission AND per-side
    * state eviction both run against the LAGGED global watermark
    * (2-PRECEDING over batches, the q225 lag) with NON-strict
    * thresholds — a purchase dies at p_ts <= wm, a click at
    * c_ts + 1h <= wm (the interval's upper bound extends the click
    * side's lifetime) — plus the match-before-evict batch boundary;
    * all pinned in WatermarkLateSpec and replayed in DuckDB by q233's
    * oracle (see the q233 scaladoc in SplitQueries for the full
    * clause list).
    * Returns (p_event_id, c_event_id, p_ms, c_ms). */
  def runLateJoin(spark: SparkSession, srcDir: String, delay: String,
      queryName: String = "graft_late_join",
      shufflePartitions: Option[Int] = Some(ReplayPartitions),
      joinType: String = "inner"): DataFrame =
    FileIngest.withPartitions(spark, shufflePartitions) {
      val schema = spark.read.parquet(srcDir).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"),
          col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", delay)
      val clicks = src.filter(col("event_type") === "click")
        .select(col("event_id").as("c_event_id"),
          col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", delay)
      val joined = purchases.join(clicks, expr(
          "p_user = c_user AND " +
            "c_ts >= p_ts - interval 1 hour AND c_ts <= p_ts"),
          joinType)
        .select(col("p_event_id"), col("c_event_id"),
          unix_millis(col("p_ts")).as("p_ms"),
          unix_millis(col("c_ts")).as("c_ms"))
      val q = joined.writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table(queryName)
    }

  /** Runs a streaming aggregation to completion against the file source
    * and returns the final result table (memory sink, complete mode). */
  def runToCompletion(spark: SparkSession, dir: String,
      transform: DataFrame => DataFrame,
      queryName: String = "graft_stream",
      shufflePartitions: Option[Int] = Some(ReplayPartitions)): DataFrame =
    FileIngest.withPartitions(spark, shufflePartitions) {
      val q = transform(source(spark, dir)).writeStream
        .outputMode(OutputMode.Complete)
        .format("memory").queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table(queryName)
    }

  /** Streaming replay of [[sessionize]] against the events file source:
    * returns the CLOSED sessions (append mode — a session is emitted once
    * the stream has seen an in-data gap larger than `gapMinutes` for that
    * user; each user's final session stays in state until its
    * processing-time timeout, so a finite replay deliberately excludes
    * it). This closed-session set is deterministic and batch-expressible,
    * which is what q95's DuckDB oracle checks. */
  def runSessionize(spark: SparkSession, dir: String, gapMinutes: Int = 30,
      queryName: String = "graft_sessions",
      shufflePartitions: Option[Int] = Some(ReplayPartitions)): DataFrame =
    FileIngest.withPartitions(spark, shufflePartitions) {
      import spark.implicits._
      implicit val sp: SparkSession = spark
      val events = source(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")).as[Event]
      val q = sessionize(events, gapMinutes,
          timeout = GroupStateTimeout.NoTimeout).writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table(queryName)
    }

  /** Gap-based sessionization: events of a user belong to one session
    * while the gap between consecutive events stays below `gapMinutes`.
    * Emits closed sessions (append mode).
    *
    * `timeout` picks the dangling-session flush policy:
    * `ProcessingTimeTimeout` (default) flushes a user's idle session after
    * the gap elapses on the CLOCK — the production choice for an unbounded
    * stream, but on a finite replay the engine keeps scheduling
    * micro-batches to re-check pending clock timeouts, so
    * `processAllAvailable` never settles. `EventTimeTimeout` flushes when
    * the WATERMARK passes session end + gap — deterministic in event
    * time; the input must carry `withWatermark("ts", …)` and
    * [[runSessionizeFlush]] shows the complete-replay harness.
    * `NoTimeout` emits in-data gap-closed sessions only (each user's
    * final session stays in state) — the deterministic replay/backfill
    * choice ([[runSessionize]], q95). */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)(
      implicit spark: SparkSession): Dataset[Session] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    val eventTime = timeout == GroupStateTimeout.EventTimeTimeout
    val procTime = timeout == GroupStateTimeout.ProcessingTimeTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.end), s.n, s.total))
          } else {
            val sorted = rows.toArray.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(SessionState(s.start, t, s.n + 1,
                    s.total + e.value))
                case Some(s) =>
                  closed ::= Session(userId, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.end), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // flush when event time (the watermark) passes the gap —
              // the in-data close condition, applied to stream silence.
              // Clamped: a LATE event (flatMapGroupsWithState does not
              // drop late rows) can put end + gap at or below the
              // current watermark, and an un-clamped timestamp throws
              // and kills the query; the clamp fires the flush on the
              // next watermark advance instead.
              if (eventTime) state.setTimeoutTimestamp(
                math.max(s.end + gapMs, state.getCurrentWatermarkMs + 1))
            }
            if (procTime) state.setTimeoutDuration(s"$gapMinutes minutes")
            closed.reverseIterator
          }
      }
  }

  /** COMPLETE sessionization of a finite replay: every session is
    * emitted, including each user's final (dangling) one — the
    * event-time-timeout twin of [[runSessionize]], whose append-mode
    * replay can only emit in-data gap-closed sessions.
    *
    * Mechanics: the file source unions a one-event memory stream; the
    * watermark delay is far larger than any data span (so no session
    * flushes mid-replay regardless of how files split into
    * micro-batches — emission timing stays deterministic), and after the
    * file replay drains, a single far-future SENTINEL event advances the
    * watermark past every session's end + gap, firing the event-time
    * timeouts that flush the dangling sessions. The sentinel user's own
    * state never times out (nothing advances the watermark past it) and
    * is filtered from the output. */
  def runSessionizeFlush(spark: SparkSession, dir: String,
      gapMinutes: Int = 30, queryName: String = "graft_sessions_flush",
      shufflePartitions: Option[Int] = Some(ReplayPartitions)): DataFrame =
    FileIngest.withPartitions(spark, shufflePartitions) {
      import spark.implicits._
      implicit val sp: SparkSession = spark
      val sentinelUser = -1L
      val delayDays = 3650L
      // empty replay: max(ts) is NULL — any sentinel time works, the
      // output is empty either way
      val maxTsRow = graft.Tables.events(spark, dir)
        .agg(max(unix_millis(col("ts")))).head()
      val maxTsMs = if (maxTsRow.isNullAt(0)) 0L else maxTsRow.getLong(0)
      val sentinelTs = new java.sql.Timestamp(
        maxTsMs + delayDays * 86400000L + gapMinutes * 60000L + 3600000L)
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]],
          spark)
      val fileEvents = source(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")).as[Event]
      val all = fileEvents.unionByName(mem.toDS())
        .withWatermark("ts", s"$delayDays days").as[Event]
      val q = sessionize(all, gapMinutes,
          timeout = GroupStateTimeout.EventTimeTimeout).writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(queryName)
        .start()
      try {
        q.processAllAvailable() // drain the file replay, watermark ≈ 0
        mem.addData(Event(-1L, sentinelTs, sentinelUser, "sentinel", 0.0))
        q.processAllAvailable() // sentinel batch + timeout-firing batch
      } finally q.stop()
      spark.table(queryName).filter(col("user_id") =!= sentinelUser)
    }

  /** Exactly-once restoration of an at-least-once stream: the same events
    * file is delivered by TWO independent file sources (each tracks its
    * own progress, so every row arrives twice — the standard redelivery
    * shape of an at-least-once bus), and a keyed streaming dedup on
    * `event_id` drops the replays. Every surviving row's payload is
    * deterministic because all deliveries of an id are identical, so the
    * result equals the batch table exactly — q102's oracle.
    *
    * This replay uses unwatermarked [[Dataset.dropDuplicates]] (exact:
    * state = one entry per id, never evicted) so a finite file replay is
    * complete regardless of how far apart the two deliveries land. On an
    * unbounded production stream, swap in
    * `dropDuplicatesWithinWatermark("event_id")` after `withWatermark` —
    * redeliveries in real buses arrive within a bounded delay, and the
    * watermark evicts ids older than that bound, keeping state finite. */
  def runExactlyOnce(spark: SparkSession, dir: String,
      queryName: String = "graft_exactly_once",
      shufflePartitions: Option[Int] = Some(ReplayPartitions)): DataFrame =
    FileIngest.withPartitions(spark, shufflePartitions) {
      val delivered = source(spark, dir).unionByName(source(spark, dir))
      val q = delivered.dropDuplicates("event_id").writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table(queryName)
    }
}
