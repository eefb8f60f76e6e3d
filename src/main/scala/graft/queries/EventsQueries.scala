package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QueryHelpers.t

/** Event streams: time windows, sessions, as-of joins, funnels, cohorts,
  * attribution, forecasting, change detection and A/B statistics.
  */
object EventsQueries {

  val all: Seq[Query] = Seq(

    // events.ts is INT64 nanos (read as BIGINT via nanosAsLong); 1-hour
    // tumbling window in pure integer arithmetic — the batch twin of the
    // Structured Streaming window (graft.streaming).
    Query("q14_event_window", (s, dir) =>
      t(s, dir, "events")
        .groupBy(
          (col("ts") - (col("ts") % 3600000000000L)).as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_val"))
        .orderBy("window_start", "event_type"),
      oracle = """SELECT epoch_ns(ts) - (epoch_ns(ts) % 3600000000000) AS window_start, event_type,
        |        count(*) AS cnt, round(sum(value), 2) AS sum_val
        | FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin.replace("\n", " ")),

    // q14 REPLAYED through Structured Streaming (the streaming oracle row
    // VERDICT r9/r10 asked for): the events table is staged into 8 files,
    // read back through the file SOURCE one file per trigger — 8 real
    // micro-batches whose windowed-aggregation state merges incrementally
    // (EventStream.windowedCounts, the deploy path's exact plan) — and the
    // final complete-mode result is checked against the SAME DuckDB oracle
    // as the batch twin. Complete mode because the oracle sees all data:
    // watermark eviction/append timing is pinned separately by
    // StreamingSpec; THIS row pins replay ⇒ batch-answer parity.
    // Hour buckets via micros are exact vs the oracle's nano arithmetic:
    // 3.6e12 % 1000 = 0, so floor(ts div 1000 / 3.6e9) = floor(ts / 3.6e12).
    Query("streaming_replay_q14", (s, dir) => {
      // staging key carries a fingerprint of the SOURCE files (name, size,
      // mtime — no Spark job): a regenerated events table, or two
      // checkouts sharing one tmpdir, can never silently replay stale
      // staging (the failure mode was a confusing oracle hash mismatch)
      val srcFp = {
        val src = java.nio.file.Paths.get(dir, "events.parquet")
        val walk = java.nio.file.Files.walk(src)
        val sig = try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(p => s"${p.getFileName}:${java.nio.file.Files.size(p)}:" +
              s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}")
            .toSeq.sorted.mkString("|")
        } finally walk.close()
        (scala.util.hashing.MurmurHash3.stringHash(sig) & 0x7fffffff).toString
      }
      val staged = s"${System.getProperty("java.io.tmpdir")}/graft_stream_q14_" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + srcFp
      val events = t(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      // staging is deterministic per (sfDir, source fingerprint) — skip
      // the rewrite on re-runs (bench passes re-invoke the query; only
      // the replay should be timed)
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(staged, "_SUCCESS")))
        events.repartition(8).write.mode("overwrite").parquet(staged)
      val src = s.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2).parquet(staged)
      // 8 state partitions for the replay: state-store task count is fixed
      // by shuffle.partitions at checkpoint creation, and 32 tiny state
      // snapshots per micro-batch are pure per-task overhead at this
      // volume (conf restored after the run — queries run sequentially)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.EventStream.windowedCounts(src)
          .writeStream.format("memory").queryName("streaming_replay_q14_sink")
          .outputMode("complete")
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table("streaming_replay_q14_sink")
        .select((unix_micros(col("window_start")) * 1000L).as("window_start"),
          col("event_type"), col("cnt"), round(col("sum_val"), 2).as("sum_val"))
        .orderBy("window_start", "event_type")
    },
      // the streamed replay must land on the batch answer — same oracle as q14
      oracle = """SELECT epoch_ns(ts) - (epoch_ns(ts) % 3600000000000) AS window_start, event_type,
        |        count(*) AS cnt, round(sum(value), 2) AS sum_val
        | FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin.replace("\n", " "),
      informational = true),

    // REAL streaming replay of the CUSTOM-STATE sessionizer
    // (EventStream.sessionizedCustom, flatMapGroupsWithState + event-time
    // timeout): the events table drains through file-source micro-batches
    // in a CONTROLLED order (chunk files staged with increasing mtimes),
    // then a per-user far-future flush file advances the watermark past
    // every real session's end+gap, so the timeout path closes and emits
    // them all. The emitted table must hash-match the batch q35
    // sessionize rollup — per-user session ORDINALS included, the
    // property that proves the state machine is batch-split-invariant.
    // Flush events' own singleton sessions stay open forever and are
    // never emitted. Lateness is set past the fixture's time span so no
    // real row is ever late under any file order.
    Query("streaming_replay_sessionize", (s, dir) => {
      import org.apache.spark.sql.streaming.OutputMode
      val srcFp = {
        val src = java.nio.file.Paths.get(dir, "events.parquet")
        val walk = java.nio.file.Files.walk(src)
        val sig = try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(p => s"${p.getFileName}:${java.nio.file.Files.size(p)}:" +
              s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}")
            .toSeq.sorted.mkString("|")
        } finally walk.close()
        (scala.util.hashing.MurmurHash3.stringHash(sig) & 0x7fffffff).toString
      }
      val staged = s"${System.getProperty("java.io.tmpdir")}/graft_stream_sess_" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + srcFp
      val lateNanos = 3650L * 86400L * 1000000000L // 10y > fixture span
      val gapNanos = 30L * 60 * 1000000000L
      val events = t(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      val donePath = java.nio.file.Paths.get(staged, "_DONE")
      if (!java.nio.file.Files.exists(donePath)) {
        val root = java.nio.file.Paths.get(staged)
        java.nio.file.Files.createDirectories(root)
        // one parquet FILE per chunk, moved into the staged root in
        // sequence — the file source processes oldest-mtime first, so
        // the flush file (written last) is guaranteed the final batch
        def stageOne(df: DataFrame, name: String): Unit = {
          val tmp = s"$staged/_stage_$name"
          df.repartition(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          java.nio.file.Files.move(part.toPath,
            root.resolve(s"$name.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete(); ()
          }
          rm(new java.io.File(tmp))
        }
        (0 until 4).foreach(i => stageOne(
          events.where(pmod(col("event_id"), lit(4)) === i), s"c$i"))
        val maxTs = events.agg(max("ts")).head.getLong(0)
        val flushTs = maxTs + lateNanos + gapNanos + 86400L * 1000000000L
        stageOne(events.select("user_id").distinct()
          .select(lit(-1L).as("event_id"), lit(flushTs).as("ts"),
            col("user_id"), lit("_flush").as("event_type"),
            lit(0.0).as("value")), "zflush")
        java.nio.file.Files.createFile(donePath)
      }
      val src = s.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2).parquet(staged)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        import s.implicits._
        val q = graft.streaming.EventStream.sessionizedCustom(
            src.as[graft.streaming.EventStream.Event],
            lateness = "3650 days")
          .writeStream.format("memory")
          .queryName("streaming_replay_sessionize_sink")
          .outputMode(OutputMode.Append())
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table("streaming_replay_sessionize_sink")
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("dur_us"), col("sum_val"))
        .orderBy("user_id", "session_seq")
    },
      // the streaming custom-state sessionizer must reproduce the batch
      // rollup exactly — ordinals included — so its oracle IS q35's SQL
      oracle = """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events),
        | f AS (SELECT user_id, ts_us, event_id, value,
        |        CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000
        |             OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        |        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        | g AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_seq FROM f)
        | SELECT user_id, session_seq, count(*) AS n_events,
        |        max(ts_us) - min(ts_us) AS dur_us,
        |        round(sum(value::DECIMAL(20,6)), 2)::DOUBLE AS sum_val
        | FROM g GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin.replace("\n", " "),
      informational = true),

    // Hopping (sliding) window: 2h windows every 1h — each event lands in
    // exactly two windows via a 2-element generator, then one grouped agg
    // (the batch twin of a Structured Streaming sliding window; no
    // self-join, no window table build).
    Query("q49_hopping_window", (s, dir) => {
      val hop = 3600000000000L
      val s0 = col("ts") - (col("ts") % hop)
      t(s, dir, "events")
        .select(col("event_type"), col("value"),
          explode(array(s0, s0 - hop)).as("window_start"))
        .groupBy("window_start", "event_type")
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_val"))
        .orderBy("window_start", "event_type")
    },
      oracle = """WITH h AS (SELECT event_type, value,
        |   unnest([epoch_ns(ts) - (epoch_ns(ts) % 3600000000000),
        |           epoch_ns(ts) - (epoch_ns(ts) % 3600000000000) - 3600000000000]) AS window_start
        |   FROM events)
        | SELECT window_start, event_type, count(*) AS cnt, round(sum(value), 2) AS sum_val
        | FROM h GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin.replace("\n", " ")),

    // Time-series resample + forward-fill: per-user hourly grid from the
    // user's first to last event, observed hours aggregated (decimal-
    // exact), gap hours filled with the last observed value. The grid is
    // generated per key (sequence+explode — narrow), so the whole op is
    // one groupBy + one window; no driver-side time loop.
    Query("q39_resample", (s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("user_id") < 50)
        .select(col("user_id"), expr("(ts div 1000) div 3600000000").as("hr"),
          col("value"))
      val hourly = ev.groupBy("user_id", "hr")
        .agg(round(sum(col("value").cast("decimal(20,6)")), 2).cast("double").as("hr_val"))
      val grid = ev.groupBy("user_id")
        .agg(min("hr").as("_lo"), max("hr").as("_hi"))
        .select(col("user_id"), explode(sequence(col("_lo"), col("_hi"))).as("hr"))
      val w = Window.partitionBy("user_id").orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
      grid.join(hourly, Seq("user_id", "hr"), "left")
        .select(col("user_id"), col("hr"),
          coalesce(col("hr_val"), last("hr_val", ignoreNulls = true).over(w)).as("filled"),
          col("hr_val").isNull.cast("int").as("gap"))
        .orderBy("user_id", "hr")
    },
      oracle = """WITH ev AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hr, value
        |            FROM events WHERE user_id < 50),
        | hourly AS (SELECT user_id, hr,
        |            round(sum(value::DECIMAL(20,6)), 2)::DOUBLE AS hr_val
        |            FROM ev GROUP BY user_id, hr),
        | bounds AS (SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM ev GROUP BY user_id),
        | grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS hr FROM bounds),
        | j AS (SELECT g.user_id, g.hr, h.hr_val
        |       FROM grid g LEFT JOIN hourly h USING (user_id, hr))
        | SELECT user_id, hr::BIGINT AS hr,
        |        coalesce(hr_val, last_value(hr_val IGNORE NULLS) OVER
        |          (PARTITION BY user_id ORDER BY hr
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS filled,
        |        (hr_val IS NULL)::INT AS gap
        | FROM j ORDER BY user_id, hr""".stripMargin.replace("\n", " ")),

    // Cohort retention: users grouped by first-seen day, distinct-user
    // counts per (cohort, day offset). Two key-local shuffles (user for
    // the first-seen aggregate + co-partitioned join back, then the tiny
    // cohort grid); pairs are pre-deduped so no count_distinct Expand.
    // Day arithmetic at µs resolution on both engines (NOTES fact 13).
    // Kaplan-Meier time-to-conversion (the survival curve the
    // product-analytics stack reports): per user, duration = days from
    // first event to first 'purchase', administratively censored at the
    // corpus's day 3 (the study-end cutoff) — users who have not
    // converted by the cutoff stay in the at-risk denominators up to
    // their censor time without ever counting as converted (dropping
    // them would bias the curve one way, counting them as converted the
    // other — the correction KM exists for; at sf0.1 ~1 in 6 users is
    // censored). S(t) = Π_{t_i ≤ t} (1 − d_i/n_i) over conversion
    // times, evaluated as exp of a cumulative ln sum with identical
    // expression shapes on both engines and a round-3 output (the
    // text_lm_score float discipline). Both windows run over the
    // AGGREGATED per-duration table — bounded by the observation
    // window's day span, never the row count (the GlobalWindowCheck
    // exemption) — after one user-keyed and one duration-keyed
    // aggregation; corpus bounds ride one-row broadcasts.
    Query("events_survival", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"))
      val users = ev.groupBy("user_id").agg(min("day").as("fd"))
      val conv = ev.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("day").as("pd"))
      val cut = ev.agg((min("day") + 3).as("_cut"))
      val durs = users.join(conv, Seq("user_id"), "left")
        .crossJoin(broadcast(cut))
        .where(col("fd") <= col("_cut"))
        .select(
          when(col("pd").isNotNull && col("pd") <= col("_cut"),
            col("pd") - col("fd"))
            .otherwise(col("_cut") - col("fd")).as("dur"),
          (col("pd").isNotNull && col("pd") <= col("_cut"))
            .cast("long").as("dead"))
      val byDur = durs.groupBy("dur")
        .agg(count(lit(1)).as("n_all"), sum("dead").as("d"))
      val w = Window.orderBy("dur")
      val atRisk = byDur
        .crossJoin(broadcast(durs.agg(count(lit(1)).as("_n"))))
        .select(col("dur"), col("d"),
          (col("_n") - coalesce(
            sum("n_all").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L))).as("n_risk"))
      // n_risk = d can only happen on the LAST conversion time (nothing
      // has a longer duration once everyone at risk converts), but the
      // engines disagree on ln(0) — Spark returns NULL (sum would skip
      // it) and DuckDB raises — so the zero factor is kept OUT of the
      // fold (its term folds ln(1) = 0) and that row's survival is
      // pinned to the exact 0.0 the product semantics demand.
      atRisk.where(col("d") > 0)
        .select(col("dur"), col("n_risk"), col("d"),
          when(col("n_risk") === col("d"), lit(0.0)).otherwise(
            round(exp(
              sum(expr("ln(cast(CASE WHEN n_risk = d THEN n_risk" +
                  " ELSE n_risk - d END AS double) / cast(n_risk AS double))"))
                .over(w.rowsBetween(Window.unboundedPreceding, 0))), 3))
            .as("surv_r3"))
        .select(col("dur").as("t_day"), col("n_risk"),
          col("d").as("n_churn"), col("surv_r3"))
        .orderBy("t_day")
    },
      oracle = """WITH ev AS (SELECT user_id, event_type,
        |              epoch_us(ts) // 86400000000 AS day FROM events),
        | users AS (SELECT user_id, min(day) AS fd FROM ev GROUP BY user_id),
        | conv AS (SELECT user_id, min(day) AS pd FROM ev
        |          WHERE event_type = 'purchase' GROUP BY user_id),
        | cut AS (SELECT min(day) + 3 AS c FROM ev),
        | durs AS (SELECT CASE WHEN pd IS NOT NULL AND pd <= c THEN pd - fd
        |                      ELSE c - fd END AS dur,
        |            (pd IS NOT NULL AND pd <= c)::BIGINT AS dead
        |          FROM users LEFT JOIN conv USING (user_id), cut
        |          WHERE fd <= c),
        | bydur AS (SELECT dur, count(*)::BIGINT AS n_all, sum(dead)::BIGINT AS d
        |           FROM durs GROUP BY dur),
        | tot AS (SELECT count(*)::BIGINT AS n FROM durs),
        | ar AS (SELECT dur, d,
        |     (n - coalesce(sum(n_all) OVER (ORDER BY dur
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS n_risk
        |   FROM bydur, tot),
        | deaths AS (SELECT dur, d, n_risk FROM ar WHERE d > 0)
        | SELECT dur AS t_day, n_risk, d AS n_churn,
        |   CASE WHEN n_risk = d THEN 0.0 ELSE
        |   round(exp(sum(ln((CASE WHEN n_risk = d THEN n_risk
        |                     ELSE n_risk - d END)::DOUBLE / n_risk::DOUBLE))
        |     OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 3)
        |   END AS surv_r3
        | FROM deaths ORDER BY t_day""".stripMargin.replace("\n", " ")),

    Query("cohort_retention", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
        .distinct()
      val firstDay = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
      ev.join(firstDay, "user_id")
        .select(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"),
          col("user_id"))
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).as("users"))
        .orderBy("cohort_day", "day_offset")
    },
      oracle = """WITH e AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        | f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
        | SELECT cohort_day, day - cohort_day AS day_offset,
        |        count(DISTINCT e.user_id) AS users
        | FROM e JOIN f USING (user_id)
        | GROUP BY cohort_day, day_offset
        | ORDER BY cohort_day, day_offset""".stripMargin.replace("\n", " ")),

    // Gap-fill with LINEAR interpolation (q39_resample forward-fills):
    // per-user daily purchase counts on a dense day grid; missing days
    // get (pv·(nd−day) + nv·(day−pd))·1000 div (nd−pd) — the numerator
    // is a nonnegative integer, so truncating div == floor div and both
    // engines agree without a float in sight. Grid spans each user's
    // own [min_day, max_day], so prev/next anchors always exist.
    Query("q43_interpolate", (s, dir) => {
      val daily = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
        .groupBy("user_id", "day").agg(count(lit(1)).as("cnt"))
      val grid = daily.groupBy("user_id")
        .agg(min("day").as("_lo"), max("day").as("_hi"))
        .select(col("user_id"), explode(sequence(col("_lo"), col("_hi"))).as("day"))
      val wA = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wB = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
      grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"), col("cnt"),
          last("cnt", ignoreNulls = true).over(wA).as("_pv"),
          last(when(col("cnt").isNotNull, col("day")), ignoreNulls = true).over(wA).as("_pd"),
          first("cnt", ignoreNulls = true).over(wB).as("_nv"),
          first(when(col("cnt").isNotNull, col("day")), ignoreNulls = true).over(wB).as("_nd"))
        .withColumn("filled_x1000",
          when(col("cnt").isNotNull, col("cnt") * 1000)
            .otherwise(expr("(_pv * (_nd - day) + _nv * (day - _pd)) * 1000 div (_nd - _pd)")))
        .select(col("user_id"), col("day"), col("filled_x1000"),
          col("cnt").isNull.cast("int").as("gap"))
        .orderBy("user_id", "day")
    },
      oracle = """WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |            FROM events WHERE event_type = 'purchase'),
        | daily AS (SELECT user_id, day, count(*) AS cnt FROM ev GROUP BY user_id, day),
        | b AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily GROUP BY user_id),
        | grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS day FROM b),
        | j AS (SELECT g.user_id, g.day, d.cnt
        |       FROM grid g LEFT JOIN daily d USING (user_id, day)),
        | w AS (SELECT user_id, day, cnt,
        |   last_value(cnt IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |   last_value(CASE WHEN cnt IS NOT NULL THEN day END IGNORE NULLS)
        |     OVER (PARTITION BY user_id ORDER BY day
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |   first_value(cnt IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |   first_value(CASE WHEN cnt IS NOT NULL THEN day END IGNORE NULLS)
        |     OVER (PARTITION BY user_id ORDER BY day
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        |   FROM j)
        | SELECT user_id, day::BIGINT AS day,
        |   (CASE WHEN cnt IS NOT NULL THEN cnt * 1000
        |         ELSE (pv * (nd - day) + nv * (day - pd)) * 1000 // (nd - pd)
        |    END)::BIGINT AS filled_x1000,
        |   (cnt IS NULL)::INT AS gap
        | FROM w ORDER BY user_id, day""".stripMargin.replace("\n", " ")),

    // Conversion funnel: users reaching view → later click → later
    // purchase. Two user-keyed joins + aggs; per-user funnel state is one
    // timestamp per stage, so the shape holds at any event volume.
    // (µs resolution per NOTES environment fact 13.)
    Query("q36_funnel", (s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
      val v = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("v_ts"))
      val c = e.where(col("event_type") === "click")
        .join(v, "user_id").where(col("ts_us") > col("v_ts"))
        .groupBy("user_id").agg(min("ts_us").as("c_ts"))
      val p = e.where(col("event_type") === "purchase")
        .join(c, "user_id").where(col("ts_us") > col("c_ts"))
        .select("user_id").distinct()
      v.agg(count(lit(1)).as("users")).select(lit("1_view").as("stage"), col("users"))
        .unionByName(c.agg(count(lit(1)).as("users"))
          .select(lit("2_click").as("stage"), col("users")))
        .unionByName(p.agg(count(lit(1)).as("users"))
          .select(lit("3_purchase").as("stage"), col("users")))
        .orderBy("stage")
    },
      oracle = """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        | v AS (SELECT user_id, min(ts_us) AS v_ts FROM e WHERE event_type = 'view' GROUP BY user_id),
        | c AS (SELECT e.user_id, min(e.ts_us) AS c_ts FROM e JOIN v USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts_us > v.v_ts GROUP BY e.user_id),
        | p AS (SELECT DISTINCT e.user_id FROM e JOIN c USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts_us > c.c_ts)
        | SELECT '1_view' AS stage, count(*) AS users FROM v
        | UNION ALL SELECT '2_click', count(*) FROM c
        | UNION ALL SELECT '3_purchase', count(*) FROM p
        | ORDER BY stage""".stripMargin.replace("\n", " ")),

    // Sessionization: gap-based session assignment per user (30-min
    // inactivity), then per-session rollup. Integer microsecond window
    // arithmetic (`ts div 1000` — DuckDB's parquet reader truncates
    // TIMESTAMP(NANOS) to µs, so µs is the shared exact resolution);
    // one shuffle on user_id shared by both windows.
    Query("q35_sessionize", (s, dir) => {
      val gapMicros = 30L * 60 * 1000000L
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      t(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("value"))
        .withColumn("new_sess",
          when(col("ts_us") - lag("ts_us", 1).over(w) > gapMicros ||
              lag("ts_us", 1).over(w).isNull, 1)
            .otherwise(0))
        .withColumn("session_seq",
          sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_events"),
          (max("ts_us") - min("ts_us")).as("dur_us"),
          // decimal sum: exact and order-independent, so partial-agg order
          // can never flip the 2dp rounding vs the oracle
          round(sum(col("value").cast("decimal(20,6)")), 2).cast("double").as("sum_val"))
        .orderBy("user_id", "session_seq")
    },
      oracle = """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events),
        | f AS (SELECT user_id, ts_us, event_id, value,
        |        CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000
        |             OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        |        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        | g AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_seq FROM f)
        | SELECT user_id, session_seq, count(*) AS n_events,
        |        max(ts_us) - min(ts_us) AS dur_us,
        |        round(sum(value::DECIMAL(20,6)), 2)::DOUBLE AS sum_val
        | FROM g GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin.replace("\n", " ")),

    // Event-sequence transition profile (first-order Markov): per
    // (prev → next) event-type pair, transition counts and permille of
    // the source type's outgoing mass — the sequence-structure profile
    // a behavioural pipeline reads. The lag window is per-user over a
    // fully-determined (ts, event_id) order; the permille window runs
    // over the AGGREGATED pair table (bounded by |types|²), never raw
    // events.
    Query("events_markov", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val tr = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag("event_type", 1).over(w))
        .where(col("prev").isNotNull)
      tr.groupBy("prev", "event_type").agg(count(lit(1)).as("cnt"))
        .withColumn("out_total", sum("cnt").over(Window.partitionBy("prev")))
        .select(col("prev"), col("event_type").as("next"), col("cnt"),
          expr("cnt * 1000 div out_total").as("permille"))
        .orderBy("prev", "next")
    },
      oracle = """WITH tr AS (SELECT user_id, event_type,
        |   lag(event_type) OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id) AS prev FROM events),
        | c AS (SELECT prev, event_type AS next, count(*)::BIGINT AS cnt
        |       FROM tr WHERE prev IS NOT NULL GROUP BY 1, 2)
        | SELECT prev, next, cnt,
        |        (cnt * 1000 // sum(cnt) OVER (PARTITION BY prev))::BIGINT AS permille
        | FROM c ORDER BY prev, next""".stripMargin.replace("\n", " ")),

    // Robust pipeline monitoring: which (event_type, day) intake volumes
    // are anomalous against the type's own history? Median + MAD — not
    // mean + σ, so one heavy day cannot drag its own baseline — via
    // madOutlierRows' value-count median selection (windows bounded by
    // DISTINCT daily volumes, never raw rows). >3·MAD flags; integers
    // end to end.
    Query("events_anomaly", (s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type"), expr("(ts div 1000) div 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      graft.ops.Quality.madOutlierRows(daily, "cnt", "event_type", k = 3)
        .select(col("event_type"), col("day"), col("cnt"),
          col("med"), col("dev"), col("mad"))
        .orderBy("event_type", "day")
    },
      oracle = """WITH ev AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day FROM events),
        | daily AS (SELECT event_type, day, count(*)::BIGINT AS cnt FROM ev GROUP BY 1, 2),
        | c AS (SELECT event_type, cnt AS v, count(*) AS c FROM daily GROUP BY 1, 2),
        | cum AS (SELECT event_type, v, c,
        |   sum(c) OVER (PARTITION BY event_type ORDER BY v
        |     ROWS UNBOUNDED PRECEDING) AS cm,
        |   sum(c) OVER (PARTITION BY event_type) AS n FROM c),
        | med AS (SELECT event_type, v::BIGINT AS med FROM cum
        |   WHERE cm - c < (n + 1) // 2 AND (n + 1) // 2 <= cm),
        | d AS (SELECT daily.event_type, day, cnt, med, abs(cnt - med) AS dev
        |   FROM daily JOIN med USING (event_type)),
        | dc AS (SELECT event_type, dev AS v, count(*) AS c FROM d GROUP BY 1, 2),
        | dcum AS (SELECT event_type, v, c,
        |   sum(c) OVER (PARTITION BY event_type ORDER BY v
        |     ROWS UNBOUNDED PRECEDING) AS cm,
        |   sum(c) OVER (PARTITION BY event_type) AS n FROM dc),
        | mad AS (SELECT event_type, v::BIGINT AS mad FROM dcum
        |   WHERE cm - c < (n + 1) // 2 AND (n + 1) // 2 <= cm)
        | SELECT event_type, day::BIGINT AS day, cnt, med, dev, mad
        | FROM d JOIN mad USING (event_type)
        | WHERE dev > 3 * mad ORDER BY event_type, day""".stripMargin.replace("\n", " ")),

    // Per-user EWMA with α = 1/2 over the ts-ordered event stream — the
    // smoothed-metric recurrence (monitoring / trend detection). The
    // recurrence e_t = (x_t + e_{t-1}) div 2 runs as an ORDERED per-key
    // fold in INTEGER cents, seeded with the first element on both
    // engines, so nothing floats and no partial-order drift exists.
    // Values are non-negative on this fixture so Spark's truncating
    // `div` == DuckDB's flooring `//`. Scale shape: one user_id
    // aggregation; the fold is per-group and bounded by the group's
    // event count (the text_lm_score pattern — HOFs are interpreted,
    // fine off the per-token hot path).
    Query("events_ewma", (s, dir) =>
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          expr("""aggregate(
                 |  slice(array_sort(collect_list(struct(ts, event_id, cents))), 2, size(collect_list(cents))),
                 |  element_at(array_sort(collect_list(struct(ts, event_id, cents))), 1).cents,
                 |  (acc, x) -> (acc + x.cents) div 2)"""
            .stripMargin.replace("\n", " ")).as("ewma_cents"))
        .orderBy("user_id"),
      oracle = """SELECT user_id, count(*) AS n_events,
        |  list_reduce(list(CAST(floor(value * 100) AS BIGINT)
        |    ORDER BY epoch_ns(ts), event_id),
        |    (acc, x) -> (acc + x) // 2) AS ewma_cents
        | FROM events GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " ")),

    // Seasonal-naive forecast eval over the daily event volume: forecast
    // for day d = actual at d−7, scored as MASE-scaled errors (Hyndman &
    // Koehler '06) — each |e_d| scaled by the in-sample one-step naive
    // MAE, the standard scale-free forecast baseline every real model
    // must beat. Lags via exact day-arithmetic self-joins (no density
    // assumption, no window), denominator rides as a one-row broadcast;
    // counts are integers so scaled errors are exact in milli-units.
    Query("events_forecast_snaive", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(expr("ts div 86400000000000").as("day"))
        .agg(count(lit(1)).as("actual"))
      val f = daily.select((col("day") + 7).as("day"), col("actual").as("forecast"))
      val p = daily.select((col("day") + 1).as("day"), col("actual").as("prev"))
      val j = daily.join(f, Seq("day"), "left").join(p, Seq("day"), "left")
      val naive = j.where(col("prev").isNotNull)
        .agg(sum(abs(col("actual") - col("prev"))).as("sum_naive"),
          count(lit(1)).as("n_naive"))
      j.where(col("forecast").isNotNull)
        .crossJoin(broadcast(naive))
        .select(col("day"), col("actual"), col("forecast"),
          abs(col("actual") - col("forecast")).as("abs_err"),
          expr("(1000 * abs(actual - forecast) * n_naive) div sum_naive")
            .as("scaled_err_milli"))
        .orderBy("day")
    },
      oracle = """WITH daily AS (SELECT epoch_ns(ts) // 86400000000000 AS day, count(*)::BIGINT AS actual
        |   FROM events GROUP BY 1),
        | j AS (SELECT d.day, d.actual, f.actual AS forecast, p.actual AS prev
        |       FROM daily d LEFT JOIN daily f ON d.day = f.day + 7
        |                    LEFT JOIN daily p ON d.day = p.day + 1),
        | nv AS (SELECT CAST(sum(abs(actual - prev)) AS BIGINT) AS sum_naive,
        |               count(*)::BIGINT AS n_naive
        |        FROM j WHERE prev IS NOT NULL)
        | SELECT day, actual, forecast, abs(actual - forecast) AS abs_err,
        |        (1000 * abs(actual - forecast) * n_naive) // sum_naive AS scaled_err_milli
        | FROM j CROSS JOIN nv WHERE forecast IS NOT NULL
        | ORDER BY day""".stripMargin.replace("\n", " ")),

    // CUSUM change-point scan over the daily event volume (Page '54):
    // cumulative sum of mean-deviations, peak |CUSUM| day = the change
    // point. Scaled by the day count so everything stays in exact
    // integers — cusum_t = Σ(n_i·D − T) = D·Σn_i − t·T — no fractional
    // mean, no float drift. The cumulative window is global but runs on
    // the DAILY aggregate (calendar-bounded, the post-aggregation
    // exemption GlobalWindowCheck encodes); the mean and the peak ride
    // as one-row broadcasts.
    Query("events_cusum", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(expr("ts div 86400000000000").as("day"))
        .agg(count(lit(1)).as("n"))
      val tot = daily.agg(sum("n").as("tot"), count(lit(1)).as("days"))
      val cs = daily.crossJoin(broadcast(tot))
        .withColumn("cusum",
          sum(col("n") * col("days") - col("tot")).over(
            Window.orderBy("day")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val peak = cs.agg(max(abs(col("cusum"))).as("mx"))
      cs.crossJoin(broadcast(peak))
        .select(col("day"), col("n"), col("cusum"),
          (abs(col("cusum")) === col("mx")).as("is_changepoint"))
        .orderBy("day")
    },
      oracle = """WITH daily AS (SELECT epoch_ns(ts) // 86400000000000 AS day, count(*) AS n
        |   FROM events GROUP BY 1),
        | t AS (SELECT sum(n) AS tot, count(*) AS days FROM daily),
        | cs AS (SELECT day, n,
        |   CAST(sum(n * days - tot) OVER (ORDER BY day
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cusum
        |   FROM daily CROSS JOIN t)
        | SELECT day, n, cusum,
        |        abs(cusum) = (SELECT max(abs(cusum)) FROM cs) AS is_changepoint
        | FROM cs ORDER BY day""".stripMargin.replace("\n", " ")),

    // As-of join: even events ("trades") pick up the value of the latest
    // odd event ("quote") at-or-before their timestamp, per user.
    Query("q23_asof_join", (s, dir) => {
      val e = t(s, dir, "events")
      val trades = e.where(col("event_id") % 2 === 0)
        .select(col("user_id"), col("event_id"), col("ts"))
      val quotes = e.where(col("event_id") % 2 === 1)
        .select(col("user_id"), col("ts").as("q_ts"),
          col("event_id").as("q_id"), round(col("value"), 2).as("q_val"))
      graft.ops.AsOfJoin.asOf(trades, quotes, "user_id", "ts", "q_ts", Seq("q_id", "q_val"))
        .select(col("event_id"), col("asof_q_id"), col("asof_q_val"))
        .orderBy("event_id")
    },
      oracle = """SELECT l.event_id, r.q_id AS asof_q_id, r.q_val AS asof_q_val
        | FROM (SELECT user_id, event_id, ts FROM events WHERE event_id % 2 = 0) l
        | ASOF LEFT JOIN (SELECT user_id, ts AS q_ts, event_id AS q_id,
        |                        round(value, 2) AS q_val FROM events WHERE event_id % 2 = 1) r
        |   ON l.user_id = r.user_id AND l.ts >= r.q_ts
        | ORDER BY l.event_id""".stripMargin.replace("\n", " ")),

    // Last-touch attribution: each purchase credits the user's most
    // recent click/view at-or-before it, but only within a 24 h lookback
    // — otherwise 'direct'. Composes the as-of join (one exchange + one
    // per-key sort, see AsOfJoin) with a post-filter on the carried touch
    // timestamp; touches are pre-deduped per (user, µs) with a
    // deterministic max-id winner so equal-timestamp ties can never make
    // the pick order-dependent. µs resolution on both engines (NOTES:
    // DuckDB truncates parquet nanos to µs).
    Query("events_attribution", (s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"))
      val touches = e.where(col("event_type").isin("click", "view"))
        .select(col("user_id"), expr("ts div 1000").as("t_ts"),
          col("event_id").as("t_id"), col("event_type").as("t_type"))
        .groupBy("user_id", "t_ts")
        .agg(max(struct(col("t_id"), col("t_type"))).as("m"))
        .select(col("user_id"), col("t_ts"),
          col("m.t_id").as("t_id"), col("m.t_type").as("t_type"))
      val within = col("asof_t_ts").isNotNull &&
        col("ts_us") - col("asof_t_ts") <= 86400000000L
      graft.ops.AsOfJoin.asOf(purchases, touches, "user_id", "ts_us", "t_ts",
          Seq("t_id", "t_type", "t_ts"))
        .select(col("event_id"),
          when(within, col("asof_t_type")).otherwise(lit("direct")).as("channel"),
          when(within, col("asof_t_id")).as("touch_id"))
        .orderBy("event_id")
    },
      oracle = """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
        |           FROM events WHERE event_type = 'purchase'),
        | tt AS (SELECT user_id, epoch_us(ts) AS t_ts, event_id AS t_id, event_type AS t_type
        |        FROM events WHERE event_type IN ('click', 'view')
        |        QUALIFY row_number() OVER (PARTITION BY user_id, epoch_us(ts)
        |                                   ORDER BY event_id DESC) = 1)
        | SELECT p.event_id,
        |   CASE WHEN tt.t_ts IS NOT NULL AND p.ts_us - tt.t_ts <= 86400000000
        |        THEN tt.t_type ELSE 'direct' END AS channel,
        |   CASE WHEN tt.t_ts IS NOT NULL AND p.ts_us - tt.t_ts <= 86400000000
        |        THEN tt.t_id END AS touch_id
        | FROM p ASOF LEFT JOIN tt ON p.user_id = tt.user_id AND p.ts_us >= tt.t_ts
        | ORDER BY p.event_id""".stripMargin.replace("\n", " ")),

    // Top user journeys: each user's first-3-event path (ts order, id
    // tiebreak) counted across users — the sequence-mining companion of
    // q36's funnel and events_markov's transitions. Per-user state is 3
    // rows via the ranked filter; paths aggregate on a bounded key space.
    Query("events_paths", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          row_number().over(w).as("rn"))
        .where(col("rn") <= 3)
        .groupBy("user_id")
        .agg(concat_ws(">",
          expr("transform(array_sort(collect_list(struct(rn, event_type))), s -> s.event_type)"))
          .as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path")).limit(15)
    },
      oracle = """WITH r AS (SELECT user_id, event_type,
        |     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |   FROM events),
        | p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |   FROM r WHERE rn <= 3 GROUP BY user_id)
        | SELECT path, count(*) AS n_users FROM p GROUP BY path
        | ORDER BY n_users DESC, path LIMIT 15""".stripMargin.replace("\n", " ")),

    // Gini coefficient of user activity (concentration in one number):
    // G·1e4 = (2·Σ rank·x − (n+1)·Σx) · 1e4 div (n·Σx) over ascending
    // per-user event counts — pure integer arithmetic on globalRowNumber
    // ranks, so the coefficient is exact. The concentration metric behind
    // "do a few users dominate the stream".
    Query("events_gini", (s, dir) => {
      val cnt = t(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).as("x"))
      val ranked = graft.ops.Rank.globalRowNumber(cnt,
        Seq(col("x"), col("user_id")))
      ranked
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(col("rn") * col("x")).as("srx"))
        .select(
          expr("CAST((2 * srx - (n + 1) * sx) * 10000 div (n * sx) AS BIGINT)")
            .as("gini_bp"),
          col("n").as("n_users"))
    },
      oracle = """WITH cnt AS (SELECT user_id, count(*) AS x FROM events GROUP BY user_id),
        | r AS (SELECT user_id, x, row_number() OVER (ORDER BY x, user_id) AS rn FROM cnt),
        | s AS (SELECT count(*) AS n, sum(x)::BIGINT AS sx, sum(rn * x)::BIGINT AS srx FROM r)
        | SELECT CAST(((2 * srx - (n + 1) * sx) * 10000) // (n * sx) AS BIGINT) AS gini_bp,
        |        n AS n_users
        | FROM s ORDER BY gini_bp""".stripMargin.replace("\n", " ")),

    // Welch two-sample t statistic per event_type (A/B analytics): cohorts
    // = user_id parity; sufficient stats (n, Σx, Σx²) accumulate as
    // DECIMAL so the floats appear only in the final t formula — exact,
    // partition-order-free, and partial-aggregable (the 100 TB shape for
    // any experiment readout).
    // Mann-Whitney U (Wilcoxon rank-sum) with the tie correction — the
    // NONPARAMETRIC A/B test the t-test cannot replace on skewed
    // metrics: compares purchase vs click value distributions rank-wise.
    // Entirely exact integer arithmetic: values land on a cent grid, so
    // ranking is a value-keyed count table; DOUBLED average ranks
    // (2·cumBelow + cnt + 1) stay integer under ties; the 5% two-sided
    // normal approximation cross-multiplies to
    //   3·N(N−1)·(U2 − nA·nB)²·10⁴ > 38416·nA·nB·T,
    //   T = (N+1)·N(N−1) − Σ(t³−t),
    // evaluated in DECIMAL(38,0) (HUGEINT in the oracle) — no float, no
    // sqrt, so the verdict bit is hashable cross-engine. Range
    // contract: the left side grows ~N⁶·10⁴ in the worst case, so the
    // exact-integer verdict is valid to N = nA+nB ≈ 5·10⁵ (DECIMAL(38)/
    // HUGEINT ceiling; fixture N ≈ 4·10⁴). Past that, sample (the test
    // has long since saturated) or move the final compare to the double
    // z-score and accept the 1.96-boundary ulp. The rank window runs
    // over the AGGREGATED distinct-cent-value table (bounded by the
    // value domain — the GlobalWindowCheck exemption); everything else
    // is key-local aggregation into one row.
    Query("events_mannwhitney", (s, dir) => {
      val e = t(s, dir, "events")
        .where(col("event_type").isin("purchase", "click"))
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      val byV = e.groupBy("v").agg(
        count(lit(1)).as("cnt"),
        count(when(col("event_type") === "purchase", 1)).as("cnt_a"))
      val w = Window.orderBy("v")
      val ranked = byV.select(col("cnt"), col("cnt_a"),
        coalesce(sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("below"))
      ranked.agg(
          sum("cnt_a").as("n_a"),
          sum(col("cnt") - col("cnt_a")).as("n_b"),
          sum(col("cnt_a") * (lit(2L) * col("below") + col("cnt") + lit(1L)))
            .as("r2a"),
          // tie cubes in DECIMAL from the first factor (a 2.1M-row value
          // bin would wrap cnt³ in 64-bit)
          sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")).as("ties"))
        .select(col("n_a"), col("n_b"),
          (col("r2a") - col("n_a") * (col("n_a") + lit(1L))).as("u2_a"),
          col("ties"))
        .select(col("n_a"), col("n_b"), col("u2_a"),
          // every multi-factor product casts a FACTOR (not the finished
          // product) to DECIMAL, so nothing is squared or cubed in
          // 64-bit first — the pre-cast form wrapped past ~80k rows per
          // group (|u2−nAnB|² > 2⁶³) exactly where the no-float claim
          // matters
          expr("""CAST(3 * (n_a + n_b) AS DECIMAL(38,0)) * (n_a + n_b - 1)
                 |  * CAST(u2_a - n_a * n_b AS DECIMAL(38,0))
                 |  * CAST(u2_a - n_a * n_b AS DECIMAL(38,0))
                 |  * 10000
                 | >
                 | CAST(38416 * n_a AS DECIMAL(38,0)) * n_b *
                 |   (CAST(n_a + n_b + 1 AS DECIMAL(38,0)) * (n_a + n_b)
                 |     * (n_a + n_b - 1) - ties)"""
            .stripMargin.replace("\n", " ")).as("significant"))
        .orderBy("n_a")
    },
      oracle = """WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
        |           FROM events WHERE event_type IN ('purchase', 'click')),
        | byv AS (SELECT v, count(*)::BIGINT AS cnt,
        |           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS cnt_a
        |         FROM e GROUP BY v),
        | ranked AS (SELECT cnt, cnt_a,
        |     coalesce(sum(cnt) OVER (ORDER BY v
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS below
        |   FROM byv),
        | agg AS (SELECT sum(cnt_a)::BIGINT AS n_a, sum(cnt - cnt_a)::BIGINT AS n_b,
        |     sum(cnt_a * (2 * below + cnt + 1))::BIGINT AS r2a,
        |     sum(cnt::HUGEINT * cnt * cnt - cnt) AS ties FROM ranked),
        | u AS (SELECT n_a, n_b, (r2a - n_a * (n_a + 1))::BIGINT AS u2_a, ties FROM agg)
        | SELECT n_a, n_b, u2_a,
        |   ((3 * (n_a + n_b))::HUGEINT * (n_a + n_b - 1)
        |     * (u2_a - n_a * n_b)::HUGEINT
        |     * (u2_a - n_a * n_b)::HUGEINT * 10000
        |    >
        |    (38416 * n_a)::HUGEINT * n_b
        |     * ((n_a + n_b + 1)::HUGEINT * (n_a + n_b) * (n_a + n_b - 1) - ties))
        |     AS significant
        | FROM u ORDER BY n_a""".stripMargin.replace("\n", " ")),

    Query("events_ab_ttest", (s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"),
        (col("user_id") % 2).as("cohort"), col("value"))
      val stats = e.groupBy("event_type", "cohort").agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(24,6)")).as("sx"),
        sum((col("value") * col("value")).cast("decimal(30,10)")).as("sxx"))
      val a = stats.where(col("cohort") === 0)
        .select(col("event_type"), col("n").as("na"), col("sx").as("sxa"), col("sxx").as("sxxa"))
      val b = stats.where(col("cohort") === 1)
        .select(col("event_type"), col("n").as("nb"), col("sx").as("sxb"), col("sxx").as("sxxb"))
      a.join(b, "event_type")
        .select(col("event_type"), col("na"), col("nb"),
          expr("""round(
                 | (CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb) /
                 | sqrt(
                 |  ((CAST(sxxa AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE) / na) / (na - 1)) / na +
                 |  ((CAST(sxxb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE) / nb) / (nb - 1)) / nb)
                 | , 4) + 0.0""".stripMargin.replace("\n", " ")).as("t_r4"))
        .orderBy("event_type")
    },
      oracle = """WITH e AS (SELECT event_type, user_id % 2 AS cohort, value FROM events),
        | stats AS (SELECT event_type, cohort, count(*) AS n,
        |     sum(CAST(value AS DECIMAL(24,6))) AS sx,
        |     sum(CAST(value * value AS DECIMAL(30,10))) AS sxx
        |   FROM e GROUP BY event_type, cohort),
        | a AS (SELECT event_type, n AS na, sx AS sxa, sxx AS sxxa FROM stats WHERE cohort = 0),
        | b AS (SELECT event_type, n AS nb, sx AS sxb, sxx AS sxxb FROM stats WHERE cohort = 1)
        | SELECT a.event_type, na, nb,
        |   round(
        |     (CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb) /
        |     sqrt(
        |      ((CAST(sxxa AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE) / na) / (na - 1)) / na +
        |      ((CAST(sxxb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE) / nb) / (nb - 1)) / nb)
        |     , 4) + 0.0 AS t_r4
        | FROM a JOIN b ON a.event_type = b.event_type
        | ORDER BY a.event_type""".stripMargin.replace("\n", " ")),

    // CUPED variance reduction (Deng et al. '13) — THE standard A/B
    // sensitivity trick: regress the experiment metric on a
    // pre-experiment covariate (each user's first-10-days activity) and
    // analyze y − θx instead of y. θ is pooled cov/var; per-cohort
    // var(y−θx) expands algebraically so every aggregate is an exact
    // integer sum and all float math is row-local scalar arithmetic on
    // those sums (the events_chisq discipline — no float folds, both
    // engines IEEE-identical), rounded only at output.
    Query("events_ab_cuped", (s, dir) => {
      val e = t(s, dir, "events")
        .select((col("user_id") % 2).as("cohort"), col("user_id"),
          expr("ts div 86400000000000").as("day"))
      val minDay = e.agg(min("day").as("min_day"))
      val perUser = e.crossJoin(broadcast(minDay))
        .groupBy("cohort", "user_id")
        .agg(sum(when(col("day") < col("min_day") + 10, 1L).otherwise(0L)).as("x"),
          sum(when(col("day") >= col("min_day") + 10, 1L).otherwise(0L)).as("y"))
      val pc = perUser.groupBy("cohort").agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val pooled = pc.agg(sum("n").as("np"), sum("sx").as("sxp"),
        sum("sy").as("syp"), sum("sxx").as("sxxp"), sum("sxy").as("sxyp"))
      val TH = "((CAST(sxyp AS DOUBLE) - CAST(sxp AS DOUBLE) * CAST(syp AS DOUBLE) / np) / (CAST(sxxp AS DOUBLE) - CAST(sxp AS DOUBLE) * CAST(sxp AS DOUBLE) / np))"
      val VARY = "((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n) / (n - 1))"
      val VARX = "((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1))"
      val COV = "((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / (n - 1))"
      val VADJ = s"$VARY + $TH * $TH * $VARX - 2 * $TH * $COV"
      pc.crossJoin(broadcast(pooled))
        .select(col("cohort"), col("n"),
          expr("round(CAST(sy AS DOUBLE) / n, 4) + 0.0").as("mean_y_r4"),
          expr(s"round($TH, 4) + 0.0").as("theta_r4"),
          expr(s"round($VARY, 4) + 0.0").as("var_y_r4"),
          expr(s"round($VADJ, 4) + 0.0").as("var_adj_r4"),
          expr(s"CAST(round(10000 * (1 - ($VADJ) / $VARY), 0) AS BIGINT)")
            .as("reduction_bp"))
        .orderBy("cohort")
    },
      oracle = {
        val TH = "((CAST(sxyp AS DOUBLE) - CAST(sxp AS DOUBLE) * CAST(syp AS DOUBLE) / np) / (CAST(sxxp AS DOUBLE) - CAST(sxp AS DOUBLE) * CAST(sxp AS DOUBLE) / np))"
        val VARY = "((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n) / (n - 1))"
        val VARX = "((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1))"
        val COV = "((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / (n - 1))"
        val VADJ = s"$VARY + $TH * $TH * $VARX - 2 * $TH * $COV"
        s"""WITH e AS (SELECT user_id % 2 AS cohort, user_id,
           |             epoch_ns(ts) // 86400000000000 AS day FROM events),
           | md AS (SELECT min(day) AS min_day FROM e),
           | pu AS (SELECT cohort, user_id,
           |          CAST(sum(CASE WHEN day < min_day + 10 THEN 1 ELSE 0 END) AS BIGINT) AS x,
           |          CAST(sum(CASE WHEN day >= min_day + 10 THEN 1 ELSE 0 END) AS BIGINT) AS y
           |        FROM e CROSS JOIN md GROUP BY cohort, user_id),
           | pc AS (SELECT cohort, count(*)::BIGINT AS n,
           |          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |          CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
           |          CAST(sum(x * y) AS BIGINT) AS sxy
           |        FROM pu GROUP BY cohort),
           | pl AS (SELECT CAST(sum(n) AS BIGINT) AS np, CAST(sum(sx) AS BIGINT) AS sxp,
           |          CAST(sum(sy) AS BIGINT) AS syp, CAST(sum(sxx) AS BIGINT) AS sxxp,
           |          CAST(sum(sxy) AS BIGINT) AS sxyp
           |        FROM pc)
           | SELECT cohort, n,
           |   round(CAST(sy AS DOUBLE) / n, 4) + 0.0 AS mean_y_r4,
           |   round($TH, 4) + 0.0 AS theta_r4,
           |   round($VARY, 4) + 0.0 AS var_y_r4,
           |   round($VADJ, 4) + 0.0 AS var_adj_r4,
           |   CAST(round(10000 * (1 - ($VADJ) / $VARY), 0) AS BIGINT) AS reduction_bp
           | FROM pc CROSS JOIN pl ORDER BY cohort""".stripMargin.replace("\n", " ")
      }),

    // Chi-square contingency cells: event_type × weekday observed counts
    // with per-cell chi contribution (O−E)²/E. E = rt·ct/N is row-local
    // double arithmetic over exact integer marginals — no float folds —
    // so every cell reproduces bit-for-bit; the reader sums contributions
    // for the statistic. Marginals are tiny broadcast aggregates.
    Query("events_chisq", (s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_type"),
          // ts is INT64 nanos (GraftSession nanosAsLong); UTC session
          expr("dayofweek(CAST(timestamp_micros(ts div 1000) AS DATE))").as("dow"))
      val cells = e.groupBy("event_type", "dow").agg(count(lit(1)).as("obs"))
      val rowT = e.groupBy("event_type").agg(count(lit(1)).as("rt"))
      val colT = e.groupBy("dow").agg(count(lit(1)).as("ct"))
      val n = e.agg(count(lit(1)).as("_n"))
      cells.join(broadcast(rowT), "event_type").join(broadcast(colT), "dow")
        .crossJoin(broadcast(n))
        .select(col("event_type"), col("dow"), col("obs"),
          round(
            pow(col("obs").cast("double")
              - col("rt").cast("double") * col("ct").cast("double") / col("_n").cast("double"), 2)
            / (col("rt").cast("double") * col("ct").cast("double") / col("_n").cast("double")), 6)
            .as("chi_r6"))
        .orderBy("event_type", "dow")
    },
      oracle = """WITH e AS (SELECT event_type, dayofweek(ts) + 1 AS dow FROM events),
        | cells AS (SELECT event_type, dow, count(*) AS obs FROM e GROUP BY event_type, dow),
        | rt AS (SELECT event_type, count(*) AS rt FROM e GROUP BY event_type),
        | ct AS (SELECT dow, count(*) AS ct FROM e GROUP BY dow),
        | n AS (SELECT count(*) AS _n FROM e)
        | SELECT cells.event_type, cells.dow, obs,
        |   round(pow(obs::DOUBLE - rt::DOUBLE * ct::DOUBLE / _n::DOUBLE, 2)
        |         / (rt::DOUBLE * ct::DOUBLE / _n::DOUBLE), 6) AS chi_r6
        | FROM cells JOIN rt USING (event_type) JOIN ct USING (dow), n
        | ORDER BY event_type, dow""".stripMargin.replace("\n", " ")),

    // RFM customer segmentation: recency/frequency/monetary quintiles.
    // Each quintile rank comes from the range-partitioned globalRowNumber
    // (never a single-task global window) and the tile is the explicit
    // integer rational 1 + (rn−1)·5 div n — identical arithmetic in the
    // oracle, no cross-engine ntile edge cases.
    Query("q50_rfm", (s, dir) => {
      // the three quintile ranks fuse into ONE scalable rank pass: unpivot
      // the aggregate to (metric_idx, value, custkey) — each metric block
      // holds exactly n rows, so rank-within-metric = rn − (mi−1)·n — then
      // pivot the tiles back. One range exchange + one sample pass instead
      // of three of each (rank-of-rank-of-rank paid a full-width
      // checkpoint per stage on top).
      val m = graft.ops.Iterate.materialize(
        t(s, dir, "orders").groupBy("o_custkey").agg(
          max("o_orderdate").as("last_date"),
          count(lit(1)).as("freq"),
          round(sum("o_totalprice"), 2).as("monetary"))).df
      val long = m.select(col("o_custkey"), explode(array(
          struct(lit(1).as("mi"),
            unix_micros(col("last_date").cast("timestamp")).cast("double").as("v")),
          struct(lit(2).as("mi"), col("freq").cast("double").as("v")),
          struct(lit(3).as("mi"), col("monetary").as("v")))).as("x"))
        .select(col("o_custkey"), col("x.mi"), col("x.v"))
      val ranked = graft.ops.Rank.globalRowNumber(long,
        Seq(col("mi"), col("v").desc, col("o_custkey")))
      def tile(c: String) = expr(s"CAST(1 + (($c - 1) * 5) div _n AS INT)")
      val tiles = ranked.crossJoin(broadcast(m.agg(count(lit(1)).as("_n"))))
        .select(col("o_custkey"), col("mi"),
          tile("rn - (mi - 1) * _n").as("q"))
        .groupBy("o_custkey")
        .agg(max(when(col("mi") === 1, col("q"))).as("r_q"),
          max(when(col("mi") === 2, col("q"))).as("f_q"),
          max(when(col("mi") === 3, col("q"))).as("m_q"))
      m.join(tiles, "o_custkey")
        .select(col("o_custkey"), col("last_date"), col("freq"), col("monetary"),
          col("r_q"), col("f_q"), col("m_q"),
          concat(col("r_q").cast("string"), col("f_q").cast("string"),
            col("m_q").cast("string")).as("segment"))
        .orderBy("o_custkey")
    },
      oracle = """WITH m AS (SELECT o_custkey, max(o_orderdate) AS last_date, count(*) AS freq,
        |                  round(sum(o_totalprice), 2) AS monetary
        |           FROM orders GROUP BY o_custkey),
        | n AS (SELECT count(*) AS _n FROM m),
        | r AS (SELECT m.*,
        |   row_number() OVER (ORDER BY last_date DESC, o_custkey) AS r_rn,
        |   row_number() OVER (ORDER BY freq DESC, o_custkey) AS f_rn,
        |   row_number() OVER (ORDER BY monetary DESC, o_custkey) AS m_rn
        |   FROM m)
        | SELECT o_custkey, last_date, freq, monetary,
        |   CAST(1 + ((r_rn - 1) * 5) // _n AS INTEGER) AS r_q,
        |   CAST(1 + ((f_rn - 1) * 5) // _n AS INTEGER) AS f_q,
        |   CAST(1 + ((m_rn - 1) * 5) // _n AS INTEGER) AS m_q,
        |   CAST(1 + ((r_rn - 1) * 5) // _n AS STRING) ||
        |     CAST(1 + ((f_rn - 1) * 5) // _n AS STRING) ||
        |     CAST(1 + ((m_rn - 1) * 5) // _n AS STRING) AS segment
        | FROM r, n ORDER BY o_custkey""".stripMargin.replace("\n", " ")),

    // Forward as-of: earliest quote at or after each trade — the other
    // merge_asof direction (lead-time / next-event attribution).
    Query("q48_asof_forward", (s, dir) => {
      val e = t(s, dir, "events")
      val trades = e.where(col("event_id") % 2 === 0)
        .select(col("user_id"), col("event_id"), col("ts"))
      val quotes = e.where(col("event_id") % 2 === 1)
        .select(col("user_id"), col("ts").as("q_ts"),
          col("event_id").as("q_id"), round(col("value"), 2).as("q_val"))
      graft.ops.AsOfJoin.asOfForward(trades, quotes, "user_id", "ts", "q_ts", Seq("q_id", "q_val"))
        .select(col("event_id"), col("asof_q_id"), col("asof_q_val"))
        .orderBy("event_id")
    },
      oracle = """SELECT l.event_id, r.q_id AS asof_q_id, r.q_val AS asof_q_val
        | FROM (SELECT user_id, event_id, ts FROM events WHERE event_id % 2 = 0) l
        | ASOF LEFT JOIN (SELECT user_id, ts AS q_ts, event_id AS q_id,
        |                        round(value, 2) AS q_val FROM events WHERE event_id % 2 = 1) r
        |   ON l.user_id = r.user_id AND l.ts <= r.q_ts
        | ORDER BY l.event_id""".stripMargin.replace("\n", " ")),

    // DAU / total-users stickiness per day — the engagement ratio report;
    // distinct-first pre-dedup (no Expand), one-row total broadcast.
    Query("events_stickiness", (s, dir) => {
      val e = t(s, dir, "events").select(
        expr("CAST(timestamp_micros(ts div 1000) AS DATE)").as("day"),
        col("user_id"))
      e.distinct().groupBy("day").agg(count(lit(1)).as("dau"))
        .crossJoin(broadcast(
          e.select("user_id").distinct().agg(count(lit(1)).as("_u"))))
        .select(col("day"), col("dau"),
          expr("CAST(dau * 10000 div _u AS INT)").as("stickiness_bp"))
        .orderBy("day")
    },
      oracle = """WITH e AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        | dau AS (SELECT day, count(*) AS dau FROM e GROUP BY day),
        | u AS (SELECT count(DISTINCT user_id) AS _u FROM events)
        | SELECT day, dau, CAST((dau * 10000) // _u AS INTEGER) AS stickiness_bp
        | FROM dau, u ORDER BY day""".stripMargin.replace("\n", " "))
  )
}
