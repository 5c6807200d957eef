package graft

class RenameSpec extends org.scalatest.funsuite.AnyFunSuite {
  import SparkTestSession._

  test("S8 rename pass: deterministic public names, stable order, idempotent") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft_rename_spec"
    val df = (0 until 3000).map(i => (f"id$i%05d", i.toDouble, "0.0.1", "car", "2024",
        "county", f"${i % 2}%02d", "weighted"))
      .toDF("origin_id", "duration_sec", "version", "mode", "year",
        "geography", "state", "centroid_type")
    graft.sources.TableIO.writePartitioned(df, dir, Seq("origin_id"), maxRecordsPerFile = 200L)
    val n1 = graft.sources.TableIO.renameWithPattern(s, dir, "times")
    assert(n1 > 0)
    val back = graft.sources.TableIO.readPartitioned(s, dir)
    assert(back.count() == 3000)
    val names = back.select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0).replaceAll(".*/", "")).toSeq
    assert(names.forall(_.matches("""times-\d{5}\.parquet""")), names.take(3).toString)
    // file-name order preserves the in-partition sort: min id in times-00000
    // is below min id in times-00001 within the same partition dir
    val firstPer = back
      .withColumn("f", input_file_name())
      .groupBy($"state", $"f").agg(min($"origin_id").as("lo"))
      .collect().groupBy(_.getString(0))
    firstPer.values.foreach { rows =>
      val byName = rows.sortBy(_.getString(1).replaceAll(".*/", "")).map(_.getString(2))
      assert(byName.toSeq == byName.sortBy(identity).toSeq, "file order != id order")
    }
    // idempotent: second pass renames nothing
    assert(graft.sources.TableIO.renameWithPattern(s, dir, "times") == 0L)

    // crash recovery: simulate an interrupted pass (data stuck in a
    // phase-1 temp dot-file) — the next pass must surface it again
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val victim = fs.listFiles(new Path(dir), true)
    var v: Path = null
    while (victim.hasNext) { val f = victim.next().getPath
      if (f.getName.endsWith(".parquet")) v = f }
    fs.rename(v, new Path(v.getParent, s".rename-tmp-${v.getName}"))
    assert(graft.sources.TableIO.readPartitioned(s, dir).count() < 3000) // hidden
    graft.sources.TableIO.renameWithPattern(s, dir, "times")
    assert(graft.sources.TableIO.readPartitioned(s, dir).count() == 3000) // recovered
  }
}

import graft.sources.TableIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IoSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val outDir = {
    val s = spark
    import s.implicits._
    val dir = "/tmp/graft_io_spec"
    val df = Seq(
      ("000000001", "000500001", Some(12.5), "01"),
      ("000000002", "000500002", None, "01"),
      ("000000003", "000500003", Some(7.25), "07"),
      ("000000002", "000500001", Some(3.0), "01"))
      .toDF("origin_id", "destination_id", "duration_sec", "state")
      .withColumn("version", lit("0.0.1"))
      .withColumn("mode", lit("car"))
      .withColumn("year", lit("2024"))
      .withColumn("geography", lit("county"))
      .withColumn("centroid_type", lit("weighted"))
    TableIO.writePartitioned(df, dir, Seq("origin_id", "destination_id"))
    dir
  }

  test("constant partition keys are detected for the slim publish shuffle") {
    val s = spark
    import s.implicits._
    // range-backed (not a local Seq): ConvertToLocalRelation would fold
    // a Project over a LocalRelation away entirely; the real publish
    // input is an RDD/scan-backed frame whose top Project survives,
    // which is the shape the detector reads
    val df = s.range(1)
      .select(
        lpad($"id".cast("string"), 9, "0").as("origin_id"),
        lit("000500001").as("destination_id"),
        lit(12.5).as("duration_sec"),
        lpad(($"id" + 1).cast("string"), 2, "0").as("state"))
      .withColumn("version", lit("0.0.1"))
      .withColumn("mode", lit("car"))
      .withColumn("year", lit("2024"))
      .withColumn("geography", lit("county"))
      .withColumn("centroid_type", lit("weighted"))
    val consts = TableIO.constantKeys(df, TableIO.PartitionKeys)
    // the 5 literal keys slim out of the rebalance+sort; state (data-
    // derived) must stay a shuffle/sort key
    assert(consts.keySet ==
      Set("version", "mode", "year", "geography", "centroid_type"))
    // a frame whose keys are all data-derived keeps the general path:
    // neither the attribute key nor the attribute-aliased key may be
    // classified constant (a false 'version' constant would stamp one
    // row's state onto every row's version partition)
    val noConst = df.select(col("origin_id"), col("state"),
      col("state").as("version"))
    val ncMap = TableIO.constantKeys(noConst, Seq("version", "state"))
    assert(!ncMap.contains("version") && !ncMap.contains("state"),
      s"data-derived keys wrongly classified constant: ${ncMap.keySet}")
    // detection is value-faithful: re-attaching the detected literal
    // reproduces the dropped column exactly
    val reattached = df.drop(consts.keys.toSeq: _*)
    val restored = consts.foldLeft(reattached) {
      case (d, (k, c)) => d.withColumn(k, c) }
    val want = df.select("version", "mode", "year", "geography",
      "centroid_type").head()
    val got = restored.select("version", "mode", "year", "geography",
      "centroid_type").head()
    assert(got == want)
  }

  test("partition keys survive as strings with leading zeros") {
    val back = TableIO.readPartitioned(spark, outDir)
    val schema = back.schema
    TableIO.PartitionKeys.foreach { k =>
      assert(schema(k).dataType.typeName == "string", s"$k inferred as ${schema(k).dataType}")
    }
    val states = back.select("state").distinct().collect().map(_.getString(0)).toSet
    assert(states == Set("01", "07"))
  }

  test("partition pruning: a state filter touches only that partition's files") {
    val back = TableIO.readPartitioned(spark, outDir)
    val pruned = back.filter(col("state") === "07")
    assert(pruned.collect().length == 1)
    // the physical plan must carry it as a partition filter, and the scan
    // metric must show exactly one file read (inputFiles ignores pruning)
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metrics("numFiles").value == 1, s"scanned ${scan.metrics("numFiles").value} files")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
  }

  test("rows inside each file are ordered by (origin_id, destination_id) (O3 row-group locality)") {
    val files = TableIO.readPartitioned(spark, outDir).inputFiles
    files.foreach { f =>
      val rows = spark.read.parquet(f).select("origin_id", "destination_id")
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(rows.sameElements(rows.sortBy(identity)), s"unsorted rows in $f")
    }
  }

  test("chunk_id is parsed from the file name alone: a foreign-named file reads as \"\"") {
    import org.apache.hadoop.fs.Path
    // a "part-" in a parent directory must not leak into any chunk id
    val dir = "/tmp/graft_chunk_part-9-spec"
    TableIO.writePartitioned(TableIO.readPartitioned(spark, outDir), dir,
      Seq("origin_id", "destination_id"))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(dir), true)
    var part: Path = null
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.startsWith("part-")) part = p
    }
    val foreign = new Path(part.getParent, "extra.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, foreign, false, spark.sparkContext.hadoopConfiguration)
    val ids = TableIO.withChunkId(TableIO.readPartitioned(spark, dir))
      .select(input_file_name(), col("chunk_id")).distinct().collect()
      .map(r => new Path(r.getString(0)).getName -> r.getString(1)).toMap
    assert(ids("extra.parquet") == "", ids.toString)
    val parts = ids - "extra.parquet"
    assert(parts.nonEmpty && parts.forall { case (name, id) =>
      id.matches("\\d+") && name.startsWith(s"part-$id-") }, parts.toString)
  }

  test("write-plan dumps of two tables sharing a basename do not overwrite each other") {
    val pd = new java.io.File("/tmp/graft_write_plan_spec")
    org.apache.commons.io.FileUtils.deleteDirectory(pd)
    val frame = TableIO.readPartitioned(spark, outDir)
    val key = "graft.write.plan.dir"
    val prev = sys.props.get(key)
    sys.props(key) = pd.getPath
    try Seq("a", "b").foreach { p =>
      TableIO.writePartitioned(frame, s"/tmp/graft_write_plan_$p/graft_wp_table",
        Seq("origin_id", "destination_id"))
    } finally prev.fold(sys.props.remove(key))(v => sys.props.put(key, v))
    val dumps = pd.listFiles().filter(_.getName.startsWith("write_graft_wp_table_"))
    assert(dumps.length == 2, dumps.map(_.getName).toSeq)
    dumps.foreach { f =>
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      assert(txt.contains("REBALANCE_PARTITIONS_BY_COL"), txt.take(500))
    }
  }

  test("null durations round-trip (missing_pairs stay representable in times)") {
    val back = TableIO.readPartitioned(spark, outDir)
    assert(back.filter(col("duration_sec").isNull).count() == 1)
  }

  test("row-group data skipping: a point lookup on the sort key reads a fraction of rows") {
    val s = spark
    import s.implicits._
    val dir = "/tmp/graft_rowgroup_spec"
    // ~200k sorted rows, small row groups → many groups with tight
    // origin_id min/max stats (the map.js:702-724 contract, O3)
    (0 until 200000).map(i => (f"$i%09d", i.toDouble))
      .toDF("origin_id", "duration_sec")
      .repartition(1).sortWithinPartitions("origin_id")
      .write.mode("overwrite")
      .option("parquet.block.size", (256 * 1024).toString)
      .parquet(dir)
    val pointQ = s.read.parquet(dir).filter(col("origin_id") === "000123456")
    assert(pointQ.collect().length == 1)
    val scan = pointQ.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val rowsRead = scan.metrics("numOutputRows").value
    assert(rowsRead < 40000, s"scan read $rowsRead of 200000 rows — no row-group skipping")
  }

  test("bloom filter closes the secondary-key access path min/max cannot") {
    val s = spark
    import s.implicits._
    // origin-sorted table: destination values are spread across every row
    // group, so destination min/max (and page indexes) prune nothing.
    // Probe an EVEN destination that is absent (only odd values planted,
    // range covers it) — only a bloom filter can skip the row groups.
    val n = 200000
    val rows = (0 until n).map(i => (f"$i%09d", f"${(i * 7919) % 99991 * 2 + 1}%09d", i.toDouble))
      .toDF("origin_id", "destination_id", "duration_sec")
      .repartition(1).sortWithinPartitions("origin_id")
    def rowsRead(dir: String): Long = {
      val q = s.read.parquet(dir).filter(col("destination_id") === "000000002")
      assert(q.collect().isEmpty)
      q.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head.metrics("numOutputRows").value
    }
    val plain = "/tmp/graft_bloom_spec/plain"
    val bloom = "/tmp/graft_bloom_spec/bloom"
    rows.write.mode("overwrite")
      .option("parquet.block.size", (256 * 1024).toString).parquet(plain)
    rows.write.mode("overwrite")
      .option("parquet.block.size", (256 * 1024).toString)
      .option("parquet.bloom.filter.enabled#destination_id", "true")
      .option("parquet.bloom.filter.expected.ndv#destination_id", "100000")
      .parquet(bloom)
    val without = rowsRead(plain)
    val withBloom = rowsRead(bloom)
    info(s"rows read for absent-destination probe: plain=$without bloom=$withBloom")
    // page/column indexes prune some of the plain scan (measured ~23k of
    // 200k); the bloom turns the probe into a full skip
    assert(without > 1000L, "control: probe unexpectedly fully pruned without a bloom")
    assert(withBloom == 0L, s"bloom did not skip row groups: read $withBloom rows")
  }

  test("publish sink carries the destination bloom through writePartitioned") {
    val s = spark
    import s.implicits._
    val dir = "/tmp/graft_bloom_spec/publish"
    // cardinality must overflow the dictionary page: parquet adaptively
    // OMITS the bloom while a column stays fully dictionary-encoded
    // (dictionary pushdown is already row-group-exact there), which is
    // the right call at scale — so the footer check needs real NDV
    val df = (0 until 120000)
      .map(i => ("0.0.1", "car", f"$i%09d", f"dest-long-suffix-$i%09d", i.toDouble))
      .toDF("version", "mode", "origin_id", "destination_id", "duration_sec")
    TableIO.writePartitioned(df, dir, Seq("origin_id", "destination_id"),
      partitionKeys = Seq("version", "mode"),
      bloomCols = Seq("destination_id" -> 120000L))
    // footer must carry a bloom offset for the column
    val file = new java.io.File(s"$dir/version=0.0.1/mode=car").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath),
        s.sparkContext.hadoopConfiguration))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      val dst = (0 until cols.size).map(cols.get)
        .find(_.getPath.toDotString == "destination_id").get
      assert(dst.getBloomFilterOffset > 0, "no bloom filter written for destination_id")
    } finally reader.close()
    // and the data itself is untouched
    assert(TableIO.readPartitioned(s, dir).count() == 120000)
  }

  test("writeMirrored: byte-identical second tree, zero extra Spark jobs") {
    val s = spark
    import s.implicits._
    import org.apache.hadoop.fs.Path
    val df = (0 until 2000).map(i => (f"id$i%06d", f"d$i%06d", i.toDouble,
        "0.0.1", "car", "2024", "county", f"${i % 2}%02d", "weighted"))
      .toDF("origin_id", "destination_id", "duration_sec", "version",
        "mode", "year", "geography", "state", "centroid_type")
    val solo = "/tmp/graft_mirror_solo"
    val primary = "/tmp/graft_mirror_primary"
    val mirror = "/tmp/graft_mirror_mirror"
    val fs = new Path(solo).getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(solo, primary, mirror).foreach(d => fs.delete(new Path(d), true))

    // job-count baseline: a plain publish of the same frame
    s.sparkContext.setJobGroup("mir_solo", "baseline publish")
    TableIO.writePartitioned(df, solo, Seq("origin_id", "destination_id"))
    s.sparkContext.clearJobGroup()
    s.sparkContext.setJobGroup("mir_dual", "mirrored publish")
    TableIO.writeMirrored(df, primary, mirror, Seq("origin_id", "destination_id"))
    s.sparkContext.clearJobGroup()
    Thread.sleep(500) // status store drains async
    val jSolo = s.sparkContext.statusTracker.getJobIdsForGroup("mir_solo").length
    val jDual = s.sparkContext.statusTracker.getJobIdsForGroup("mir_dual").length
    assert(jSolo > 0)
    assert(jDual == jSolo,
      s"mirror must add no Spark work: $jDual jobs vs baseline $jSolo")

    // byte-identical trees: same relative paths, same md5 per file
    def digests(root: String): Map[String, String] = {
      val it = fs.listFiles(new Path(root), true)
      val b = Map.newBuilder[String, String]
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) {
          val rel = f.toUri.getPath.stripPrefix(new Path(root).toUri.getPath)
          val bytes = java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(f.toUri.getPath))
          val md = java.security.MessageDigest.getInstance("MD5")
          b += rel -> md.digest(bytes).map("%02x".format(_)).mkString
        }
      }
      b.result()
    }
    val dp = digests(primary)
    val dm = digests(mirror)
    assert(dp.nonEmpty && dp == dm,
      s"mirror diverges: ${dp.keySet.diff(dm.keySet)} / ${dm.keySet.diff(dp.keySet)}")
    // and the mirror serves reads like any published tree
    assert(TableIO.readPartitioned(s, mirror).count() == 2000)
  }

  test("schema evolution: mergeSchema unions columns across file generations") {
    val s = spark
    import s.implicits._
    val dir = "/tmp/graft_evolve_spec"
    Seq((1L, "x")).toDF("id", "a").write.mode("overwrite").parquet(s"$dir/gen=1")
    Seq((2L, 3.5)).toDF("id", "b").write.mode("overwrite").parquet(s"$dir/gen=2")
    val merged = s.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "a", "b", "gen"))
    assert(merged.count() == 2)
    assert(merged.filter(col("a").isNull).count() == 1) // old rows null-fill new cols
  }

  test("csv roundtrip preserves schema with explicit types") {
    val s = spark
    import s.implicits._
    val dir = "/tmp/graft_csv_spec"
    val df = Seq(("01", 1.5, 7L), ("02", 2.5, 8L)).toDF("state", "v", "n")
    df.write.mode("overwrite").option("header", "true").csv(dir)
    val back = s.read.option("header", "true").schema(df.schema).csv(dir)
    assert(back.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
    // '01' stays a string (compare types; nullability flags differ by source)
    assert(back.schema.map(f => f.name -> f.dataType) == df.schema.map(f => f.name -> f.dataType))
  }
}
