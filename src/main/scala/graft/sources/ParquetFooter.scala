package graft.sources

import java.io.{ByteArrayInputStream, IOException}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Path, StandardOpenOption}

import org.apache.parquet.format.Util

/**
 * The row count a parquet file's footer records, read from the file's tail alone:
 * the trailing 8 bytes give the footer length and the `PAR1` magic, and the thrift
 * footer is decoded without its row groups. No column chunk is read, so a commit
 * reconciles its staged rows against what the files claim at metadata cost
 * ([[SnapshotSink.commitWaveFlat]]). A file that is truncated, encrypted or not
 * parquet is refused loudly — never counted as 0 rows.
 */
private[graft] object ParquetFooter {
  private val Magic = "PAR1".getBytes(US_ASCII)

  /** `num_rows` of `file`'s footer. */
  def numRows(file: Path): Long = {
    def refuse(why: String): Nothing =
      throw new IllegalStateException(s"$file is not a readable parquet file: $why")
    val ch = FileChannel.open(file, StandardOpenOption.READ)
    try {
      def read(at: Long, n: Int): Array[Byte] = {
        val buf = ByteBuffer.allocate(n)
        while (buf.hasRemaining && ch.read(buf, at + buf.position()) >= 0) {}
        if (buf.hasRemaining) refuse(s"it ended while reading $n bytes at offset $at")
        buf.array()
      }
      val size = ch.size()
      if (size < 12) refuse(s"$size bytes is too short for the magic and a footer")
      val tail = read(size - 8, 8)
      if (!read(0, 4).sameElements(Magic) || !tail.drop(4).sameElements(Magic))
        refuse("no PAR1 magic at both ends (truncated, encrypted or not parquet)")
      val len = ByteBuffer.wrap(tail, 0, 4).order(ByteOrder.LITTLE_ENDIAN).getInt.toLong
      if (len <= 0 || len > size - 12)
        refuse(s"its footer length $len does not fit in $size bytes")
      val meta =
        try Util.readFileMetaData(
          new ByteArrayInputStream(read(size - 8 - len, len.toInt)), true)
        catch {
          case e: IOException => refuse(s"its footer does not decode: ${e.getMessage}")
        }
      if (!meta.isSetNum_rows) refuse("its footer records no num_rows")
      meta.getNum_rows
    } finally ch.close()
  }
}
