package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.TxnTable

/** Commit stats come from the parquet WRITE TASKS: per-file min/max/
  * nulls, row counts and bloom bitsets are collected while the files
  * are written, so a commit's data write is one Spark job. They must be
  * OBSERVATIONALLY IDENTICAL to the distributed read-back the commit
  * path used to run — the metadata MIN/MAX pushdown reads stats as
  * exact values. Each case commits a frame and compares the manifest's
  * stats and row counts, and the bloom sidecar bytes on disk, with
  * `TxnTable.readBackStats` (the read-back reference) over the same
  * files. ("Footer" and "fast path" in the older case names are this
  * spec's original subject, the driver-side footer stats path the
  * write-task stats replaced.) */
class FooterStatsSpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  private def withZone(f: String => Unit): Unit = {
    val zone =
      java.nio.file.Files.createTempDirectory("graft_footer").toFile
    try f(zone.getAbsolutePath)
    finally graft.io.Tables.deleteTree(zone)
  }

  /** Bloom sidecar bytes on disk, keyed by (table-relative file, col). */
  private def sidecars(table: String): Map[(String, String), Seq[Byte]] = {
    val root = new java.io.File(table).toPath
    def walk(d: java.io.File): Seq[java.io.File] =
      if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) else Seq(d)
    // skip hidden entries: the local filesystem's `.<name>.crc` twins
    walk(root.toFile).filter(f => f.getName.contains(".bloom.") &&
        !f.getName.startsWith(".")).map { f =>
      val rel = root.relativize(f.toPath).toString
      val i = rel.indexOf(".bloom.")
      (rel.take(i), java.net.URLDecoder.decode(
        rel.drop(i + ".bloom.".length), "UTF-8")) ->
        java.nio.file.Files.readAllBytes(f.toPath).toSeq
    }.toMap
  }

  /** Commit `df` as an overwrite of `table` and assert its manifest
    * stats, row counts and bloom sidecars equal the read-back
    * reference's over the same files. Returns the per-file (stats
    * sorted by column, rows) in file order and the Spark jobs the
    * commit scheduled. */
  private def check(table: String, df: DataFrame, statsCols: Seq[String],
                    bloomCols: Seq[String] = Nil,
                    partitionCols: Seq[String] = Nil)
      : (Seq[(Seq[TxnTable.FileStat], Long)], Int) = {
    val (v, Spec.Counts(jobs, _)) = Spec.counted(TxnTable.commitOverwrite(df, table,
      statsCols = statsCols, bloomCols = bloomCols,
      partitionCols = partitionCols))
    val files = TxnTable.snapshotFiles(spark, table, v).sorted
    val stats = TxnTable.fileStats(spark, table, v)
      .view.mapValues(_.sortBy(_.col)).toMap
    val rows = TxnTable.fileRows(spark, table, v)
    val (refStats, refRows, refBlooms) = TxnTable.readBackStats(
      spark, table, files, df.schema, statsCols, bloomCols)
    assert(stats == refStats.view.mapValues(_.sortBy(_.col)).toMap,
      s"\nwrite tasks=$stats\n  read-back=$refStats")
    assert(rows == refRows, s"\nwrite tasks=$rows\n  read-back=$refRows")
    assert(sidecars(table) == refBlooms,
      "bloom sidecar bytes differ from the read-back reference's")
    (files.map(f => (stats.getOrElse(f, Nil), rows(f))), jobs)
  }

  test("footer stats equal the distributed read-back on integral/bool/" +
      "date columns with nulls, and skip the read-back job") {
    import spark.implicits._
    withZone { zone =>
      val df = spark.range(0, 1000, 1, 3).select(
        $"id",
        ($"id" % 127).cast("int").as("i"),
        when($"id" % 7 === 0, lit(null)).otherwise($"id" % 31)
          .cast("short").as("s"),
        ($"id" % 2 === 0).as("b"),
        when($"id" % 11 === 0, lit(null))
          .otherwise(date_add(lit("2021-03-01").cast("date"),
            ($"id" % 365).cast("int"))).as("d"),
        lit(null).cast("long").as("allnull"),
        concat(lit("txt"), $"id").as("t"))
      val before = TxnTable.overlapStatsPasses.get()
      val (got, jobs) = check(s"$zone/t", df,
        Seq("id", "i", "s", "b", "d", "allnull"), bloomCols = Seq("id", "t"))
      // the proof the read-back is gone: a stats+bloom commit of a
      // spark.range frame is ONE Spark job — the write
      assert(jobs == 1, s"$jobs jobs")
      assert(TxnTable.overlapStatsPasses.get() == before + 1)
      // and the stats are the real thing: all-null proof recorded,
      // every row counted
      assert(got.flatMap(_._1).exists(s => s.col == "allnull" &&
        s.kind == "null"))
      assert(got.map(_._2).sum == 1000L)
    }
  }

  test("string, NaN/-0.0 double and timestamp stats equal the read-back") {
    import spark.implicits._
    withZone { zone =>
      val df = spark.range(0, 200, 1, 2).select(
        $"id",
        concat(lit("k"), lpad($"id".cast("string"), 5, "0")).as("str"),
        when($"id" === 13, lit(Double.NaN))
          .when($"id" === 14, lit(-0.0))
          .when($"id" === 15, lit(0.0))
          .otherwise($"id".cast("double") / 3.0).as("dbl"),
        // a file whose only zeros are -0.0 then 0.0: min keeps the first
        when($"id" === 120, lit(-0.0)).when($"id" === 121, lit(0.0))
          .otherwise($"id".cast("double") + 1.0).as("z"),
        timestamp_seconds($"id" * 1000).as("ts"))
      val (got, _) = check(s"$zone/t", df,
        Seq("id", "str", "dbl", "z", "ts"), bloomCols = Seq("str"))
      // Spark ranks NaN above every double: the max stat must be NaN
      assert(got.flatMap(_._1).exists(s =>
        s.col == "dbl" && s.maxV == "NaN"))
      assert(got.flatMap(_._1).exists(s =>
        s.col == "z" && s.minV == "-0.0"), got)
    }
  }

  test("columns differing only in case bind case-sensitively on the " +
      "fast path — V's footer stats can never serve as v's") {
    import spark.implicits._
    withZone { zone =>
      spark.conf.set("spark.sql.caseSensitive", "true")
      try {
        // V FIRST in schema order: a lowercase-folded binding would
        // record V's disjoint range (100..110) as v's EXACT min/max
        val df = spark.range(0, 100, 1, 2).select(
          $"id",
          ($"id" % 11 + 100).cast("int").as("V"),
          ($"id" % 7).cast("int").as("v"))
        val (got, _) = check(s"$zone/t", df, Seq("v"))
        assert(got.flatMap(_._1).filter(_.col == "v")
            .forall(s => s.kind == "typed" && s.maxV.toInt < 7),
          s"v's stats must come from v, not V: $got")
      } finally spark.conf.unset("spark.sql.caseSensitive")
    }
  }

  test("nested dotted stats columns ride the footer path with parity") {
    import spark.implicits._
    withZone { zone =>
      val df = spark.range(0, 300, 1, 2).select(
        $"id",
        struct(($"id" * 2).as("n"),
          when($"id" % 5 === 0, lit(null)).otherwise($"id" % 17)
            .cast("int").as("m")).as("meta"))
      val (got, jobs) = check(s"$zone/t", df, Seq("id", "meta.n", "meta.m"))
      assert(jobs == 1, s"$jobs jobs")
      assert(got.flatMap(_._1).count(_.col == "meta.m") == 2)
    }
  }

  test("empty frames and single-row commits agree") {
    import spark.implicits._
    withZone { zone =>
      val empty = spark.range(0).select($"id")
      // no rows, no data file: the manifest alone keeps the schema
      val (e, _) = check(s"$zone/e", empty, Seq("id"), bloomCols = Seq("id"))
      assert(e.isEmpty)
      val read = TxnTable.read(spark, s"$zone/e")
      assert(read.columns.toSeq == Seq("id") && read.count() == 0L)
      val one = spark.range(41, 42).select($"id")
      val (o, _) = check(s"$zone/o", one, Seq("id"))
      assert(o.flatMap(_._1).exists(s =>
        s.col == "id" && s.kind == "typed" && s.minV == "41" && s.maxV == "41"))
    }
  }

  test("fast-path stats drive pruning and metadata aggregates exactly " +
      "like read-back stats") {
    import spark.implicits._
    withZone { zone =>
      val t = s"$zone/t"
      spark.range(0, 10000, 1, 8)
        .select($"id", ($"id" % 100).as("g"))
        .write.format("graft").option("statsCols", "id,g")
        .mode("overwrite").save(t)
      // point predicate prunes to the one 1250-row range split
      val hit = spark.read.format("graft").load(t).filter($"id" === 9999L)
      assert(hit.count() == 1L)
      val v = TxnTable.latestVersion(spark, t).get
      val stats = TxnTable.fileStats(spark, t, v)
      val files = TxnTable.snapshotFiles(spark, t, v)
      val bound = TxnTable.Bound(org.apache.spark.sql.types.LongType,
        Some(9999L), Some(9999L))
      val kept = files.count(f => stats.getOrElse(f, Nil)
        .find(_.col == "id").forall(_.mayOverlap(bound)))
      assert(kept < files.size && kept >= 1,
        s"stats must prune: kept $kept of ${files.size}")
      // metadata-only MIN/MAX folds from the write-task stats
      val agg = spark.read.format("graft").load(t)
        .agg(min($"id"), max($"id")).collect()(0)
      assert(agg.getLong(0) == 0L && agg.getLong(1) == 9999L)
    }
  }

  test("partitioned writes key files by path: part names repeat across " +
      "partition dirs") {
    import spark.implicits._
    withZone { zone =>
      // every one of the 4 tasks writes into each of the 5 value dirs,
      // so the same part-N name lands in several dirs
      val df = spark.range(0, 400, 1, 4).select(
        $"id", ($"id" % 5).as("g"),
        when($"id" % 9 === 0, lit(null)).otherwise(concat(lit("h"), $"id"))
          .as("h"))
      val (got, _) = check(s"$zone/t", df, Seq("id", "g", "h"),
        bloomCols = Seq("h", "id"), partitionCols = Seq("g"))
      val v = TxnTable.latestVersion(spark, s"$zone/t").get
      val files = TxnTable.snapshotFiles(spark, s"$zone/t", v)
      val names = files.map(_.split('/').last)
      assert(names.distinct.size < names.size,
        s"expected repeated part names across dirs: $files")
      assert(got.map(_._2).sum == 400L)
      // each file holds one partition value: min == max on g
      assert(got.forall(_._1.find(_.col == "g").exists(s => s.minV == s.maxV)))
    }
  }

  test("strings longer than graft.stats.maxStringLen record no stat") {
    import spark.implicits._
    withZone { zone =>
      spark.conf.set("graft.stats.maxStringLen", "8")
      try {
        // file 0 holds only short strings, file 1 one long one
        val df = spark.range(0, 100, 1, 2).select($"id",
          when($"id" === 77, lit("x" * 9))
            .otherwise(concat(lit("s"), $"id")).as("s"))
        val (got, _) = check(s"$zone/t", df, Seq("id", "s"))
        assert(got.map(_._1.exists(_.col == "s")) == Seq(true, false), got)
      } finally spark.conf.unset("graft.stats.maxStringLen")
    }
  }

  test("date/timestamp stats under a non-UTC session zone equal the " +
      "read-back") {
    import spark.implicits._
    withZone { zone =>
      Spec.withSessionZone("America/Los_Angeles") {
        val df = spark.range(0, 300, 1, 3).select($"id",
          date_add(lit("2021-03-01").cast("date"), ($"id" % 40).cast("int"))
            .as("d"),
          timestamp_seconds($"id" * 3600).as("ts"),
          timestamp_seconds($"id" * 60).cast("timestamp_ntz").as("ntz"))
        val (got, _) = check(s"$zone/t", df, Seq("d", "ts", "ntz"))
        // a DATE stat is its epoch day whatever the session zone
        val first = java.time.LocalDate.parse("2021-03-01").toEpochDay
        val ds = got.flatMap(_._1).filter(_.col == "d")
        assert(ds.nonEmpty && ds.forall(s => s.kind == "typed" &&
          s.minV.toLong >= first && s.maxV.toLong <= first + 39) &&
          ds.map(_.minV.toLong).min == first &&
          ds.map(_.maxV.toLong).max == first + 39, got)
      }
    }
  }

  for (tz <- Seq("UTC", "America/Los_Angeles"))
    test(s"every stats type equals the read-back under $tz") {
      withZone { zone =>
        Spec.withSessionZone(tz) {
          val (got, _) = check(s"$zone/t", Spec.everyStatsType(),
            Spec.everyStatsCol, bloomCols = Seq("i64", "str"))
          val kinds = got.flatMap(_._1).map(s => s.col -> s.kind).toMap
          assert(kinds == Spec.everyStatsCol.map(c =>
            c -> (if (c == "str") "str" else "typed")).toMap, kinds)
        }
      }
    }

  test("TIMESTAMP_MILLIS output: timestamp stats describe the stored " +
      "milliseconds") {
    import spark.implicits._
    withZone { zone =>
      val key = "spark.sql.parquet.outputTimestampType"
      spark.conf.set(key, "TIMESTAMP_MILLIS")
      try {
        // sub-millisecond parts the writer floors away; TIMESTAMP_NTZ
        // stays microseconds
        val df = spark.range(0, 100, 1, 2).select($"id",
          timestamp_micros($"id" * 1234567L + 789L).as("ts"),
          timestamp_micros($"id" * 7654321L + 999L).cast("timestamp_ntz")
            .as("ntz"))
        val (got, _) = check(s"$zone/t", df, Seq("ts", "ntz"))
        def whole(c: String) = got.flatMap(_._1).filter(_.col == c)
          .map(s => s.maxV.toLong % 1000L == 0L)
        assert(whole("ts") == Seq(true, true) &&
          whole("ntz") == Seq(false, false), got)
      } finally spark.conf.set(key, "TIMESTAMP_MICROS")
    }
  }

  test("id-mode (field-id) tables stamp ids and record read-back stats") {
    import spark.implicits._
    withZone { zone =>
      val df = TxnTable.withFieldIds(spark.range(0, 200, 1, 2)
        .select($"id", ($"id" % 13).cast("int").as("k"),
          concat(lit("v"), $"id").as("v")))
      val (got, _) = check(s"$zone/t", df, Seq("id", "k", "v"),
        bloomCols = Seq("k"))
      assert(got.map(_._2).sum == 200L)
      val v = TxnTable.latestVersion(spark, s"$zone/t").get
      TxnTable.snapshotFiles(spark, s"$zone/t", v).foreach { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(s"$zone/t/$f"),
            spark.sparkContext.hadoopConfiguration))
        try {
          val ids = rd.getFooter.getFileMetaData.getSchema.getFields
          assert((0 until ids.size).forall(i => ids.get(i).getId != null),
            s"$f carries no field ids: ${rd.getFooter.getFileMetaData.getSchema}")
        } finally rd.close()
      }
    }
  }

  test("the tracked write's footers equal DataFrameWriter's: schema, " +
      "key-value metadata keys, row counts") {
    import spark.implicits._
    withZone { zone =>
      def footers(dir: String)
          : Seq[(String, Set[String], Long)] = {
        def walk(d: java.io.File): Seq[java.io.File] =
          if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) else Seq(d)
        walk(new java.io.File(dir))
          .filter(f => f.getName.endsWith(".parquet") &&
            !f.getName.startsWith("_"))
          .sortBy(_.getName).map { f =>
            val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                new org.apache.hadoop.fs.Path(f.toString),
                spark.sparkContext.hadoopConfiguration))
            try {
              val meta = rd.getFooter.getFileMetaData
              import scala.jdk.CollectionConverters._
              (meta.getSchema.toString, meta.getKeyValueMetaData.keySet.asScala.toSet,
                rd.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
            } finally rd.close()
          }
      }
      val frames = Seq(
        "mixed" -> spark.range(0, 500, 1, 3).select($"id",
          when($"id" % 3 === 0, lit(null)).otherwise($"id" % 7).as("n"),
          concat(lit("s"), $"id").as("s"),
          struct($"id".as("a"), lit(1.5).as("b")).as("st")),
        "empty" -> spark.range(0).select($"id", lit("x").as("s")))
      frames.foreach { case (name, df) =>
        val t = s"$zone/$name"
        TxnTable.commitOverwrite(df, t, statsCols = Seq("id"))
        df.write.parquet(s"$zone/${name}_plain")
        val ours = footers(t)
        // DataFrameWriter keeps a schema-only file for an empty frame;
        // a graft write commits no file without rows
        val theirs = footers(s"$zone/${name}_plain").filter(_._3 > 0L)
        assert(ours.nonEmpty == (name == "mixed"))
        assert(ours == theirs, s"\n$name tracked=$ours\n$name plain=$theirs")
      }
      // a non-nullable column is REQUIRED on both sides
      assert(footers(s"$zone/mixed").head._1.contains("required int64 id"))
    }
  }
}
