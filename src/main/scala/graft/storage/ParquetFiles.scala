package graft.storage

import org.apache.spark.sql.{DataFrame, SaveMode}

/** The one parquet writer for every graft store: part data, logs, state
  * tables, directories and CLI outputs all go through [[write]], so the
  * on-disk format is decided here and nowhere else.
  *
  * Every file is zstd-compressed. Spark's snappy default has no entropy
  * coder, so low-entropy columns (hex hash keys, trigram strings, repeated
  * names) land on disk almost raw; zstd encodes them at a fraction of the
  * size, and every store() merge rewrites fewer bytes. The codec is a
  * constant, not an option: one store never mixes codecs by caller
  * choice. Parquet records the codec per column chunk, so snappy files
  * already in a store stay readable beside zstd ones, with no migration. */
object ParquetFiles {

  /** Parquet codec name for every data file graft writes. */
  private val Codec = "zstd"

  def write(df: DataFrame, path: String, mode: SaveMode,
            partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode).option("compression", Codec)
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).parquet(path)
  }
}
