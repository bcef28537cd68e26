package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Records the gate reference: the row count and digest of every measured
  * gate ([[Gates.Measured]]) in a `graft.Verify` dump (one parquet
  * directory per gate) — a dump that has passed `tools/check_oracle.py`
  * against DuckDB.
  *
  * {{{
  * RecordReference <dump dir> <out json> <description of the dump>
  * }}} */
object RecordReference {
  def main(args: Array[String]): Unit = {
    val Array(dump, out, source) = args
    val built = Session.build(Runtime.getRuntime.availableProcessors(), Files.createTempDirectory("perfbench-ref").toFile)
    val spark = built.spark
    val gates = Gates.Measured.sorted
    val entries = gates.map { g =>
      val (rows, digest) = Digest.of(spark.read.parquet(new File(dump, g).getAbsolutePath))
      s"""    ${Json.str(g)}: {"rows": $rows, "digest": "$digest"}"""
    }
    val json = "{\n  \"source\": " + Json.str(source) +
      ",\n  \"gates\": {\n" + entries.mkString(",\n") + "\n  }\n}\n"
    Files.write(new File(out).toPath, json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
