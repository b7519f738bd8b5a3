package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-native readers for the reference's on-disk cache layout — the
  * actual ingestion surface a user of mipacd/HoloChatStats has on disk
  * (`data_ingestion/cacheutil/cache_manager.py`):
  *
  *   CacheDir/chat_logs/{video_id}.jsonl.gz   one gzipped JSON-lines chat
  *     log per video (cache_manager.py:172 write_chat_log_to_cache; line
  *     fields from workers/chat_downloader.py:86-95)
  *   CacheDir/videos/{channel_id}.json        one JSON object per channel
  *     mapping video_id → {title, end_time, duration}
  *     (cache_manager.py:117 write_metadata_to_cache)
  *   channels.json                            {group → {name → channel_id}}
  *
  * Design for 100 TB of logs:
  *   - schemas are EXPLICIT — json schema inference is a full extra pass
  *     over the data and is never acceptable at scale;
  *   - .jsonl.gz is not splittable, but the layout is one file per video,
  *     so file-granular parallelism is the natural partitioning (millions
  *     of videos → millions of tasks; `maxPartitionBytes` packs small
  *     ones). A re-compression pass to zstd-parquet is the first thing a
  *     real deployment runs — [[graft.operators.Layout]] covers that;
  *   - video_id is carried by the FILE NAME, not the rows (the reference
  *     names the file after the video) → recovered via input_file_name();
  *   - the per-channel metadata files are top-level JSON OBJECTS (maps),
  *     not records — read wholetext + from_json(MapType) + explode, with
  *     channel_id likewise recovered from the file name.
  */
object ChatLogSources {

  /** One chat-log line (chat_downloader.py:86-95 / :152-163): membership
    * events carry message_type new_member/gift_member and empty message;
    * regular chat carries the categorized message. `timestamp` is unix
    * seconds (float — yt_chat_fallback.py:273 start_ts + offset_ms/1000).
    */
  val chatLogSchema: StructType = StructType(Seq(
    StructField("user_id", StringType),
    StructField("username", StringType),
    StructField("timestamp", DoubleType),
    StructField("membership_rank", IntegerType),
    StructField("message_category", StringType),
    StructField("message", StringType),
    StructField("message_type", StringType),
    StructField("gifter", StringType)))

  private val videoMetaValueSchema: DataType = MapType(StringType, StructType(Seq(
    StructField("title", StringType),
    StructField("end_time", StringType),
    StructField("duration", LongType))))

  private def fileStem(suffix: String) =
    // quote the WHOLE suffix: s"\\$suffix" escaped only its first char,
    // leaving the inner dots of ".jsonl.gz" as wildcards on this side
    // while the DuckDB twin escapes both — asymmetric extractors
    regexp_extract(input_file_name(),
      "([^/]+)" + java.util.regex.Pattern.quote(suffix) + "$", 1)

  /** All chat logs under `cacheDir`, one row per message, with `video_id`
    * recovered from the file name and `ts` as a proper timestamp.
    */
  def readChatLogs(spark: SparkSession, cacheDir: String): DataFrame =
    // directory + pathGlobFilter, NOT a glob in the path: a glob path makes
    // FileStreamSink.hasMetadata stat the literal pattern and log a WARN
    // with a full FileNotFoundException stack on every analysis — noise
    // that reads as a crash in any captured stderr tail
    spark.read.schema(chatLogSchema)
      .option("pathGlobFilter", "*.jsonl.gz")
      .json(s"$cacheDir/chat_logs")
      .withColumn("video_id", fileStem(".jsonl.gz"))
      .withColumn("ts", timestamp_seconds(col("timestamp")))

  /** Per-video metadata rows (channel_id, video_id, title, end_time,
    * duration_seconds) from the per-channel JSON map files.
    */
  def readVideoMetadata(spark: SparkSession, cacheDir: String): DataFrame =
    spark.read.option("wholetext", "true")
      .option("pathGlobFilter", "*.json")
      .text(s"$cacheDir/videos")
      .select(fileStem(".json").as("channel_id"),
        explode(from_json(col("value"), videoMetaValueSchema)).as(Seq("video_id", "m")))
      .select(col("channel_id"), col("video_id"),
        col("m.title").as("title"), col("m.end_time").as("end_time"),
        col("m.duration").as("duration_seconds"))

  /** channels.json → (channel_group, channel_name, channel_id) rows. */
  def readChannels(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", "true").text(path)
      .select(explode(from_json(col("value"),
        MapType(StringType, MapType(StringType, StringType)))).as(Seq("channel_group", "members")))
      .select(col("channel_group"), explode(col("members")).as(Seq("channel_name", "channel_id")))

  /** The reference's in-memory per-video aggregation
    * (chat_downloader.py:152-179) as one declarative rollup over the RAW
    * log format: per (user_id, video_id) category-pivot counts over real
    * chat lines, total, latest known rank, last timestamp, gift-only flag.
    * This is the bridge from the reference's cache files to every
    * downstream operator (the `user_data` table build).
    */
  def userVideoRollup(chatLogs: DataFrame): DataFrame = {
    val isChat = col("message_type") === "chat"
    val cats = Seq("jp", "kr", "ru", "emoji", "es_en_id")
    val catCols = cats.map(c =>
      count(when(isChat && col("message_category") === c, 1)).as(s"${c}_count"))
    chatLogs
      .groupBy(col("user_id"), col("video_id"))
      .agg(catCols.head, (catCols.tail :+
        count(when(isChat, 1)).as("total_message_count") :+
        max(when(col("membership_rank") >= -1, col("membership_rank"))).as("membership_rank") :+
        max(col("ts")).as("last_ts") :+
        (count(when(isChat, 1)) === 0).as("is_gift")): _*)
  }

  /** Monthly streaming hours per channel from the metadata files — the
    * feed of the hours suite (api.py:1232 et al.) computed straight off
    * the source of truth: SUM(duration)/3600 per (channel, month of
    * end_time). Broadcast-sized output (channels × months).
    */
  def streamingHours(videoMeta: DataFrame): DataFrame =
    videoMeta
      .groupBy(col("channel_id"),
        date_trunc("month", to_timestamp(col("end_time"))).cast("date").as("month"))
      .agg((sum(col("duration_seconds")).cast("double") / 3600d).as("hours"))

  // ---- driver-gate fixture round-trip ---------------------------------------
  /** Fixed location of the deterministic reference-layout fixture. A FIXED
    * path (not createTempDirectory) because the DuckDB oracle must
    * independently re-read the same files after the Spark run — the gate's
    * compare step runs in a separate process on the same host.
    */
  val fixtureDir: String =
    new java.io.File(System.getProperty("java.io.tmpdir"), "graft_chatlog_fixture").getPath

  private[graft] val fixtureCats = Seq("jp", "kr", "ru", "emoji", "es_en_id")
  private val fixtureVideos = Seq(("chanX", "vidA"), ("chanX", "vidB"), ("chanY", "vidC"))

  /** Write the exact on-disk cache layout the reference produces
    * (cache_manager.py:172/:117): gzipped JSON-lines chat logs named by
    * video, per-channel JSON metadata maps, channels.json — all content a
    * pure function of (video index, line index), so every run produces
    * byte-identical files. Covers chat lines across all five categories,
    * new_member / gift_member events (empty message, null category), a
    * gift-only user, and fractional epoch timestamps.
    *
    * Concurrency-safe (the BENCH_r06 tail carried one rep crashing on an
    * empty glob when a concurrent run caught the old non-atomic write
    * mid-flight): the layout is fully built in a unique staging directory
    * and atomically renamed into the fixed path, with a `_COMPLETE`
    * marker INSIDE the staged tree so the fixed path either doesn't
    * exist, is a half-written legacy corpse (no marker → replaced), or is
    * complete and byte-identical to what any other writer would produce.
    * Once-per-JVM idempotent via lazy val; repeat calls don't touch disk.
    */
  def writeCacheFixture(): String = fixtureReady

  private lazy val fixtureReady: String = installFixture()

  /** Process-PRIVATE fixture copy for this JVM's Spark reads. The shared
    * fixed path exists for the DuckDB oracle (a separate process that
    * re-reads the same layout after the run), but Spark reading the
    * SHARED path is the one step of the round-6/7 protocol that stayed
    * outside the lock: analysis-time globbing could land inside another
    * process's corpse-replacement delete+move window and fail on an empty
    * glob (the BENCH_r06/r07 tail crashes). A directory only this JVM
    * ever writes (unique suffix, no locks, removed on exit) makes the
    * read path race-free BY CONSTRUCTION instead of by retry; the
    * generator is deterministic, so the private bytes are identical to
    * the shared ones the oracle reads.
    */
  private[graft] lazy val privateFixtureReady: String = {
    sweepOrphans()
    // pid in the name so a sweeper can prove the owner dead — a shutdown
    // hook alone never runs under SIGKILL/OOM and the copies would
    // accumulate unboundedly in tmpdir
    val d = fixtureDir + ".jvm-" + ProcessHandle.current().pid() + "-" +
      java.util.UUID.randomUUID().toString.take(8)
    writeFixtureTo(d)
    val f = new java.io.File(d)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(f)))
    d
  }

  /** Best-effort cleanup of siblings orphaned by killed processes:
    * `.jvm-<pid>-*` copies whose owning pid is provably dead (never
    * age-based — a long-lived session re-scans its private copy on every
    * action), and `.stage-*` trees older than 10 minutes (always
    * transient; only a kill inside installFixture leaves one).
    */
  private def sweepOrphans(): Unit =
    try {
      val base = new java.io.File(fixtureDir)
      val name = base.getName
      val siblings = Option(base.getParentFile.listFiles()).getOrElse(Array.empty)
      siblings.foreach { f =>
        val n = f.getName
        if (n.startsWith(name + ".jvm-")) {
          val pid = n.stripPrefix(name + ".jvm-").takeWhile(_.isDigit)
          val dead = pid.nonEmpty &&
            (pid != ProcessHandle.current().pid().toString) &&
            ProcessHandle.of(pid.toLong).map[java.lang.Boolean](h => !h.isAlive)
              .orElse(java.lang.Boolean.TRUE).booleanValue()
          // legacy uuid-only names (no pid digits) are unprovable — skip
          if (dead) { logFixture(s"sweeping dead-owner copy $n"); deleteRecursively(f) }
        } else if (n.startsWith(name + ".stage-") &&
            f.lastModified() < System.currentTimeMillis() - 600000) {
          logFixture(s"sweeping stale stage $n")
          deleteRecursively(f)
        }
      }
    } catch { case _: Exception => } // cleanup must never fail an install

  /** Content-version stamp carried INSIDE the marker: the fast path only
    * accepts a fixture whose marker matches the current generator, so a
    * later edit to the fixture content self-heals instead of every
    * machine with a pre-existing /tmp install silently serving stale data
    * forever. Bump `fmt` on any change to the line-generation logic.
    */
  private[graft] val fixtureVersion: String = {
    val fmt = 1
    s"graft-fixture:$fmt:${fixtureCats.mkString(",")}:${fixtureVideos.mkString(",")}"
  }

  private def markerOk(marker: java.nio.file.Path): Boolean =
    try java.nio.file.Files.exists(marker) &&
      java.nio.file.Files.readString(marker) == fixtureVersion
    catch { case _: java.io.IOException => false }

  /** The install protocol itself, callable repeatedly (spec seam).
    *
    * Readers take only the marker fast path; anything that DELETES goes
    * through an exclusive lock file, closing the r7-review race where one
    * installer's corpse-replacement delete could land on another
    * installer's just-completed fixture (marker checked before the other
    * move, delete after it). Under the lock the marker is re-checked, and
    * the marker is deleted FIRST so a kill mid-delete can never leave a
    * marker over missing data files. A stale lock (killed holder) is
    * broken after 10 s; the whole install gives up loudly after ~30 s.
    */
  private[graft] def installFixture(): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dst = Paths.get(fixtureDir)
    val marker = dst.resolve("_COMPLETE")
    if (markerOk(marker)) return fixtureDir
    val stage = Paths.get(
      fixtureDir + ".stage-" + java.util.UUID.randomUUID().toString.take(8))
    writeFixtureTo(stage.toString)
    Files.writeString(stage.resolve("_COMPLETE"), fixtureVersion)
    val lock = Paths.get(fixtureDir + ".lock")
    // Owner token WRITTEN INTO the lock: release verifies ownership before
    // deleting, so a holder whose lock was broken (renamed aside / deleted
    // by a breaker while it stalled >10 s) can no longer delete a THIRD
    // process's newly created lock from its finally — the r8-review
    // transient-two-holders cascade. The createFile→write window leaves a
    // momentarily empty lock; an empty lock is never "ours", so the worst
    // case is leaving it to age out via the stale break, never a wrong
    // delete.
    val lockToken = ProcessHandle.current().pid() + ":" +
      java.util.UUID.randomUUID().toString
    def releaseLock(): Unit =
      try {
        val mine = try Files.readString(lock) == lockToken
          catch { case _: java.io.IOException => false }
        if (mine) Files.deleteIfExists(lock)
        else logFixture(s"lock at $lock no longer ours; leaving it to its holder")
      } catch { case _: java.io.IOException => }
    var attempts = 0
    while (attempts < 300) {
      attempts += 1
      val locked =
        try {
          Files.createFile(lock)
          try Files.writeString(lock, lockToken)
          catch { case _: java.io.IOException => } // empty lock = unowned, ages out
          true
        }
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            // Stale-lock break must be ATOMIC: the r7 form (read mtime →
            // deleteIfExists) let two waiters observe the same stale lock,
            // the first delete+recreate, and the second then delete the
            // FRESH lock — two holders in the critical section. Renaming
            // the stale lock aside means exactly one breaker wins the
            // rename. The pre-rename mtime read is itself a TOCTOU (the
            // lock at this path may have been replaced since), so
            // staleness is RE-CHECKED on the renamed file — the aside is
            // exclusively ours, its mtime is stable — and a fresh lock
            // grabbed by mistake is moved back (restore failing only if
            // its holder already released and someone re-locked, in which
            // case the aside copy is just deleted). Residual exposure is
            // bounded by construction anyway: installs are byte-identical
            // and readers use process-private copies, so even two holders
            // in the critical section converge to a complete fixture.
            try {
              if (Files.getLastModifiedTime(lock).toMillis <
                  System.currentTimeMillis() - 10000) {
                val aside = Paths.get(
                  lock.toString + ".breaking-" + java.util.UUID.randomUUID().toString.take(8))
                Files.move(lock, aside, StandardCopyOption.ATOMIC_MOVE)
                if (Files.getLastModifiedTime(aside).toMillis <
                    System.currentTimeMillis() - 10000) {
                  Files.deleteIfExists(aside)
                  logFixture(s"broke stale lock $lock")
                } else {
                  try Files.move(aside, lock, StandardCopyOption.ATOMIC_MOVE)
                  catch { case _: java.io.IOException => Files.deleteIfExists(aside) }
                  logFixture(s"displaced a FRESH lock at $lock; restored")
                }
              }
            } catch { case _: java.io.IOException => }
            false
          case _: java.io.IOException => false
        }
      if (locked) {
        try {
          if (markerOk(marker)) {
            // a concurrent installer won; its files are byte-identical
            deleteRecursively(stage.toFile)
            return fixtureDir
          }
          if (Files.exists(dst)) {
            // markerless/stale corpse: marker FIRST, then the tree
            logFixture(s"replacing corpse at $dst")
            Files.deleteIfExists(marker)
            deleteRecursively(dst.toFile)
          }
          try Files.move(stage, dst, StandardCopyOption.ATOMIC_MOVE)
          catch {
            // belt over the lock's suspenders: if dst (re)appeared anyway,
            // a complete concurrent install is a win, anything else is a
            // real error — but never exit leaving the stage dir behind.
            // On Linux a rename onto an existing NON-empty dir surfaces as
            // ENOTEMPTY (DirectoryNotEmptyException), an empty one as
            // EEXIST — both mean "dst reappeared", so both are handled.
            case e @ (_: java.nio.file.FileAlreadyExistsException |
                      _: java.nio.file.DirectoryNotEmptyException) =>
              deleteRecursively(stage.toFile)
              if (!markerOk(marker)) throw e
              logFixture(s"lost move race to a complete install at $dst")
          }
          return fixtureDir
        } finally releaseLock()
      } else Thread.sleep(100)
    }
    deleteRecursively(stage.toFile)
    throw new IllegalStateException(s"could not install chat-log fixture at $dst (lock busy)")
  }

  /** Fixture-protocol audit line naming the acting process — if a crash
    * ever recurs in a shared environment, the stderr tail identifies WHO
    * deleted/replaced WHAT instead of leaving it to forensics. */
  private def logFixture(msg: String): Unit =
    System.err.println(s"[graft-fixture pid=${ProcessHandle.current().pid()}] $msg")

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
  }

  private def writeFixtureTo(d: String): Unit = {
    import java.nio.file.{Files, Paths}
    Files.createDirectories(Paths.get(s"$d/chat_logs"))
    Files.createDirectories(Paths.get(s"$d/videos"))
    fixtureVideos.zipWithIndex.foreach { case ((_, vid), vi) =>
      val lines = (0 until 12).map { i =>
        val user = s"u${(i * 7 + vi * 3) % 5 + 1}"
        val ts = 1700000000d + vi * 100000 + i * 10 + (if (i % 3 == 0) 0.5 else 0d)
        val rank = (i % 7) - 2
        if (i % 6 == 5) {
          val (tpe, gifter) =
            if (i % 12 == 11) ("gift_member", "\"u9\"") else ("new_member", "null")
          s"""{"user_id": "$user", "username": "name-$user", "timestamp": $ts, "membership_rank": $rank, "message_category": null, "message": "", "message_type": "$tpe", "gifter": $gifter}"""
        } else {
          val cat = fixtureCats(i % 5)
          s"""{"user_id": "$user", "username": "name-$user", "timestamp": $ts, "membership_rank": $rank, "message_category": "$cat", "message": "msg $i", "message_type": "chat", "gifter": null}"""
        }
      }
      val os = new java.util.zip.GZIPOutputStream(
        Files.newOutputStream(Paths.get(s"$d/chat_logs/$vid.jsonl.gz")))
      os.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      os.close()
    }
    fixtureVideos.groupBy(_._1).foreach { case (chan, vids) =>
      val entries = vids.zipWithIndex.map { case ((_, vid), i) =>
        s""""$vid": {"title": "stream $vid", "end_time": "2023-11-${14 + i} 22:13:20", "duration": ${3600 + 1800 * i}}"""
      }
      Files.writeString(Paths.get(s"$d/videos/$chan.json"),
        entries.mkString("{", ", ", "}"))
    }
    Files.writeString(Paths.get(s"$d/channels.json"),
      """{"GroupOne": {"Alpha": "chanX"}, "GroupTwo": {"Beta": "chanY"}}""")
  }

  /** The driver-gate entry: write the fixture, read it back through the
    * REAL source readers, and run [[userVideoRollup]] over it — the
    * reference's actual on-disk format round-trips inside the correctness
    * gate, not only in the spec suite. `last_ts` is emitted as epoch
    * seconds (double) so the compare avoids tz-typing skew between
    * engines; injective, so the check is as strong.
    */
  def fixtureRollup(spark: SparkSession): DataFrame = {
    writeCacheFixture() // the shared path the ORACLE reads must exist
    // Spark reads this JVM's private copy — byte-identical, never shared,
    // so no other process's install/replace can race the glob
    userVideoRollup(readChatLogs(spark, privateFixtureReady))
      .withColumn("last_ts", col("last_ts").cast("double"))
  }

}
