package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interop-reader scale probe: the foreign-format read paths carry
  * O(files) METADATA claims — this main measures them at 1× and 10×
  * FILE COUNTS with constant tiny files, so the wall clock isolates
  * metadata handling (log replay, partition-group planning, DV
  * decode scheduling, manifest pruning), not row throughput.
  *
  * Probes (file counts F = 200 and 2000 — both past the 128-group
  * literal-branch bound, so the Delta partitioned read exercises the
  * JOIN-FALLBACK plan):
  *  - delta_part_full / delta_part_pruned: a foreign Delta table with
  *    F single-file partitions read whole and with a one-partition
  *    `where` (pruning must cut plan AND scan work, not just rows),
  *  - delta_dv: F files each carrying an inline deletion vector
  *    (executor-side decode, broadcast anti-join path),
  *  - iceberg_full / iceberg_pruned: a foreign v2 tree with F
  *    bounds-carrying entries read whole and with a one-file bounds
  *    predicate.
  *
  * Prints one JSON line; BASELINE.md records the scaling table.
  */
object InteropProbe {

  private def copyFile(src: java.io.File, dst: java.io.File): Unit =
    java.nio.file.Files.copy(src.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = new java.io.File(
      "target/graft-data/interop_probe").getAbsolutePath

    // one tiny 100-row parquet file, copied F times per fixture —
    // constant data volume per file keeps the probe metadata-bound
    val seedDir = new java.io.File(s"$root/seed")
    if (!seedDir.exists()) {
      (0L until 100L).map(i => (i, s"row$i")).toDF("id", "s")
        .coalesce(1).write.mode("overwrite").parquet(seedDir.toString)
    }
    val seed = seedDir.listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val schemaJson = Seq((1L, "a")).toDF("id", "s").schema.json
      .replace("\\", "\\\\").replace("\"", "\\\"")
    val partSchemaJson = Seq((1L, "a", 0)).toDF("id", "s", "p")
      .schema.json.replace("\\", "\\\\").replace("\"", "\\\"")

    def ready(dir: String): Boolean =
      new java.io.File(dir, "_PROBE_READY").exists()
    def markReady(dir: String): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "_PROBE_READY"), "ok")

    def buildDeltaPart(dir: String, files: Int): Unit = {
      if (ready(dir)) return
      new java.io.File(s"$dir/files").mkdirs()
      val adds = (0 until files).map { i =>
        copyFile(seed, new java.io.File(s"$dir/files/f$i.parquet"))
        s"""{"add":{"path":"files/f$i.parquet","size":1,"partitionValues":{"p":"$i"},"modificationTime":0,"dataChange":true}}"""
      }
      new java.io.File(s"$dir/_delta_log").mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(
        s"$dir/_delta_log/00000000000000000000.json"),
        s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
{"metaData":{"id":"x","schemaString":"$partSchemaJson","format":{"provider":"parquet","options":{}},"partitionColumns":["p"],"configuration":{}}}
""" + adds.mkString("\n") + "\n")
      markReady(dir)
    }

    def buildDeltaDv(dir: String, files: Int): Unit = {
      if (ready(dir)) return
      new java.io.File(s"$dir/files").mkdirs()
      val payload = graft.sources.DeletionVectors
        .encodePayload(0L until 50L)
      val padded = java.util.Arrays.copyOf(payload,
        ((payload.length + 3) / 4) * 4)
      val z = graft.sources.DeletionVectors.z85Encode(padded)
      val adds = (0 until files).map { i =>
        copyFile(seed, new java.io.File(s"$dir/files/f$i.parquet"))
        s"""{"add":{"path":"files/f$i.parquet","size":1,"partitionValues":{},"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$z","sizeInBytes":${payload.length},"cardinality":50}}}"""
      }
      new java.io.File(s"$dir/_delta_log").mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(
        s"$dir/_delta_log/00000000000000000000.json"),
        s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}
{"metaData":{"id":"x","schemaString":"$schemaJson","format":{"provider":"parquet","options":{}},"partitionColumns":[],"configuration":{}}}
""" + adds.mkString("\n") + "\n")
      markReady(dir)
    }

    def buildIceberg(dir: String, files: Int): Unit = {
      if (ready(dir)) return
      import org.apache.avro.file.DataFileWriter
      import org.apache.avro.generic.{GenericData,
        GenericDatumWriter, GenericRecord}
      new java.io.File(s"$dir/metadata").mkdirs()
      new java.io.File(s"$dir/data").mkdirs()
      val entrySchema = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"manifest_entry","fields":[
          |{"name":"status","type":"int","field-id":0},
          |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
          |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
          |{"name":"content","type":"int","field-id":134},
          |{"name":"file_path","type":"string","field-id":100},
          |{"name":"file_format","type":"string","field-id":101},
          |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[]}},
          |{"name":"record_count","type":"long","field-id":103},
          |{"name":"file_size_in_bytes","type":"long","field-id":104},
          |{"name":"lower_bounds","field-id":125,"default":null,"type":["null",
          |{"type":"array","items":{"type":"record","name":"kv1","fields":[
          |{"name":"key","type":"int","field-id":126},
          |{"name":"value","type":"bytes","field-id":127}]}}]},
          |{"name":"upper_bounds","field-id":128,"default":null,"type":["null",
          |{"type":"array","items":{"type":"record","name":"kv2","fields":[
          |{"name":"key","type":"int","field-id":129},
          |{"name":"value","type":"bytes","field-id":130}]}}]}
          |]}}]}""".stripMargin)
      def le64(v: Long): Array[Byte] =
        (0 until 8).map(i => ((v >>> (8 * i)) & 0xff).toByte).toArray
      def bound(schema: org.apache.avro.Schema, v: Long): Object = {
        val item = schema.getTypes.get(1).getElementType
        val r = new GenericData.Record(item)
        r.put("key", 1)
        r.put("value", java.nio.ByteBuffer.wrap(le64(v)))
        java.util.Collections.singletonList(r)
      }
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      w.create(entrySchema, new java.io.FileOutputStream(
        new java.io.File(dir, "metadata/m-0.avro")))
      val dfSchema = entrySchema.getField("data_file").schema()
      (0 until files).foreach { i =>
        val f = new java.io.File(s"$dir/data/f$i.parquet")
        copyFile(seed, f)
        val df = new GenericData.Record(dfSchema)
        df.put("content", 0)
        df.put("file_path", s"file:${f.getAbsolutePath}")
        df.put("file_format", "PARQUET")
        df.put("partition", new GenericData.Record(
          dfSchema.getField("partition").schema()))
        df.put("record_count", 100L)
        df.put("file_size_in_bytes", 1L)
        df.put("lower_bounds",
          bound(dfSchema.getField("lower_bounds").schema(),
            i * 1000L))
        df.put("upper_bounds",
          bound(dfSchema.getField("upper_bounds").schema(),
            i * 1000L + 999L))
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1)
        e.put("sequence_number", null)
        e.put("data_file", df)
        w.append(e)
      }
      w.close()
      val listSchema = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"manifest_file","fields":[
          |{"name":"manifest_path","type":"string","field-id":500},
          |{"name":"manifest_length","type":"long","field-id":501},
          |{"name":"partition_spec_id","type":"int","field-id":502},
          |{"name":"content","type":"int","field-id":517},
          |{"name":"sequence_number","type":"long","field-id":515}
          |]}""".stripMargin)
      val lw = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      lw.create(listSchema, new java.io.FileOutputStream(
        new java.io.File(dir, "metadata/snap-0.avro")))
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", "metadata/m-0.avro")
      r.put("manifest_length", 1L)
      r.put("partition_spec_id", 0)
      r.put("content", 0)
      r.put("sequence_number", 1L)
      lw.append(r)
      lw.close()
      java.nio.file.Files.writeString(new java.io.File(dir,
        "metadata/v0.metadata.json").toPath,
        s"""{"format-version":2,"last-sequence-number":1,
           |"current-schema-id":0,"schemas":[{"type":"struct",
           |"schema-id":0,"fields":[
           |{"id":1,"name":"id","required":false,"type":"long"},
           |{"id":2,"name":"s","required":false,"type":"string"}]}],
           |"current-snapshot-id":0,"snapshots":[{"snapshot-id":0,
           |"sequence-number":1,
           |"manifest-list":"$dir/metadata/snap-0.avro"}]}"""
          .stripMargin.replace("\n", ""))
      markReady(dir)
    }

    def time(f: => DataFrame): Double = {
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def best(f: => DataFrame): Double = { time(f); // warmup
      math.min(time(f), time(f)) }

    val results = scala.collection.mutable.LinkedHashMap[
      String, Double]()
    Seq(200, 2000).foreach { files =>
      val dp = s"$root/delta_part_$files"
      val dd = s"$root/delta_dv_$files"
      val di = s"$root/iceberg_$files"
      buildDeltaPart(dp, files)
      buildDeltaDv(dd, files)
      buildIceberg(di, files)
      results(s"delta_part_full_$files") =
        best(graft.sources.DeltaInterop.readDelta(spark, dp))
      results(s"delta_part_pruned_$files") =
        best(graft.sources.DeltaInterop.readDelta(spark, dp,
          where = Some("p = 7")))
      results(s"delta_dv_$files") =
        best(graft.sources.DeltaInterop.readDelta(spark, dd))
      results(s"iceberg_full_$files") =
        best(graft.sources.IcebergInterop.readIceberg(spark, di))
      results(s"iceberg_pruned_$files") =
        best(graft.sources.IcebergInterop.readIceberg(spark, di,
          where = Some("id >= 7000 AND id < 8000")))
    }
    val qjson = results.map { case (k, v) =>
      s""""$k":${f"$v%.2f"}""" }.mkString(",")
    println(s"""{"metric":"interop_probe_sec","value":${
      f"${results.values.sum}%.2f"},"unit":"sec","files":[200,2000],""" +
      s""""probes":{$qjson}}""")
    spark.stop()
  }
}
