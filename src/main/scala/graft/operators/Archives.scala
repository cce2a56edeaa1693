package graft.operators

import graft.core.Processor
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Remaining archive/unarchive formats (reference: internal/impl/pure/
  * processor_archive.go:21 — tar/zip/binary/lines/json_array/concatenate;
  * processor_unarchive.go:25 — + json_map/json_documents/csv).
  *
  * Grouping/exploding stays declarative (collect_list / explode inside
  * codegen); only the tar/zip byte formats are scalar UDFs over the
  * already-grouped payload (commons-compress ships with Spark).
  */
object Archives {

  private val entrySchema = ArrayType(StructType(Seq(
    StructField("name", StringType), StructField("content", BinaryType))))

  // ===== tar / zip codecs ====================================================

  val tarCreate: Seq[org.apache.spark.sql.Row] => Array[Byte] = { entries =>
    val bos = new java.io.ByteArrayOutputStream()
    val tar = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(bos, "UTF-8")
    entries.foreach { r =>
      val (name, content) = (r.getString(0), r.getAs[Array[Byte]](1))
      val e = new org.apache.commons.compress.archivers.tar.TarArchiveEntry(name)
      e.setSize(content.length)
      tar.putArchiveEntry(e); tar.write(content); tar.closeArchiveEntry()
    }
    tar.close(); bos.toByteArray
  }

  val tarExtract: Array[Byte] => Seq[(String, Array[Byte])] = { bytes =>
    val tar = new org.apache.commons.compress.archivers.tar.TarArchiveInputStream(
      new java.io.ByteArrayInputStream(bytes), "UTF-8")
    Iterator.continually(tar.getNextEntry).takeWhile(_ != null)
      .filter(!_.isDirectory)
      .map(e => e.getName -> tar.readAllBytes()).toVector
  }

  val zipCreate: Seq[org.apache.spark.sql.Row] => Array[Byte] = { entries =>
    val bos = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { r =>
      val (name, content) = (r.getString(0), r.getAs[Array[Byte]](1))
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content); zip.closeEntry()
    }
    zip.close(); bos.toByteArray
  }

  val zipExtract: Array[Byte] => Seq[(String, Array[Byte])] = { bytes =>
    val zip = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(bytes))
    Iterator.continually(zip.getNextEntry).takeWhile(_ != null)
      .filter(!_.isDirectory)
      .map(e => e.getName -> zip.readAllBytes()).toVector
  }

  private lazy val tarUdf = udf(tarCreate).asNonNullable()
  private lazy val untarUdf = udf(tarExtract)
  private lazy val zipUdf = udf(zipCreate).asNonNullable()
  private lazy val unzipUdf = udf(zipExtract)

  /** `archive` format tar|zip: group rows into one archive per group.
    * Entries sorted by name for deterministic bytes. */
  def archiveFiles(format: String, groupBy: Seq[Column], name: Column, content: Column,
                   as: String = "archive"): Processor =
    Processor(s"archive_$format") { df =>
      val packer = format match {
        case "tar" => tarUdf
        case "zip" => zipUdf
        case other => throw new IllegalArgumentException(s"archive: unknown format $other")
      }
      df.groupBy(groupBy: _*)
        .agg(sort_array(collect_list(struct(name.cast(StringType).as("name"),
          content.cast(BinaryType).as("content")))).as("_entries"))
        .withColumn(as, packer(col("_entries").cast(entrySchema)))
        .drop("_entries")
    }

  /** `unarchive` format tar|zip: one archive → one row per entry. */
  def unarchiveFiles(format: String, src: Column): Processor =
    Processor(s"unarchive_$format") { df =>
      val un = format match {
        case "tar" => untarUdf
        case "zip" => unzipUdf
        case other => throw new IllegalArgumentException(s"unarchive: unknown format $other")
      }
      df.withColumn("_entry", explode(un(src.cast(BinaryType))))
        .withColumn("entry_name", col("_entry._1"))
        .withColumn("entry_content", col("_entry._2"))
        .drop("_entry")
    }

  /** `archive` format json_array (processor_archive.go): rows → one JSON
    * array per group (sorted for determinism). */
  def archiveJsonArray(groupBy: Seq[Column], payload: Column, as: String = "archived"): Processor =
    Processor("archive_json_array") { df =>
      df.groupBy(groupBy: _*)
        .agg(to_json(sort_array(collect_list(payload))).as(as))
    }

  /** `unarchive` format json_map (processor_unarchive.go): one JSON object
    * → one row per key, key lands in `keyCol`. */
  def unarchiveJsonMap(src: Column, valueType: DataType,
                       keyCol: String = "archive_key", valCol: String = "value"): Processor =
    Processor("unarchive_json_map") { df =>
      df.withColumn("_m", from_json(src, MapType(StringType, valueType)))
        .select(df.columns.map(col) :+ explode(col("_m")).as(Seq(keyCol, valCol)): _*)
        .drop("_m")
    }

  /** `unarchive` format csv (processor_unarchive.go): header line + data
    * lines in one payload → one typed row per data line. */
  def unarchiveCsv(src: Column, schema: StructType): Processor =
    Processor("unarchive_csv") { df =>
      val lines = split(src, "\n")
      df.withColumn("_line", explode(slice(lines, lit(2), greatest(size(lines) - 1, lit(0)))))
        .filter(length(col("_line")) > 0)
        .withColumn("_parsed", from_csv(col("_line"), schema, Map.empty[String, String]))
        .select(df.columns.map(col) :+ col("_parsed.*"): _*)
    }
}
