package graft.sources.gsheets

import org.apache.spark.sql.types.DataType

/** Java-serialised form of a [[GSheetsInputPartition]]: each row's width,
  * each cell's char length (-1 for a `null` cell, so `null` and "" stay
  * apart) and every non-null cell concatenated into one `String`, which
  * Java serialisation writes as one modified-UTF-8 block; that form
  * round-trips every Java string, unpaired surrogates included.
  */
private final class PackedRows(widths: Array[Int], lengths: Array[Int],
    text: String, types: Array[DataType]) extends Serializable {
  private def readResolve(): AnyRef = {
    val rows = new Array[Array[String]](widths.length)
    var cell = 0
    var off = 0
    var r = 0
    while (r < rows.length) {
      val row = new Array[String](widths(r))
      var c = 0
      while (c < row.length) {
        val n = lengths(cell)
        if (n >= 0) { row(c) = text.substring(off, off + n); off += n }
        cell += 1
        c += 1
      }
      rows(r) = row
      r += 1
    }
    GSheetsInputPartition(rows, types)
  }
}

private object PackedRows {
  def pack(rows: Array[Array[String]], types: Array[DataType]): PackedRows = {
    val widths = rows.map(_.length)
    val lengths = new Array[Int](widths.sum)
    var chars = 0L
    rows.foreach(_.foreach(s => if (s != null) chars += s.length))
    val text = new java.lang.StringBuilder(Math.toIntExact(chars))
    var cell = 0
    rows.foreach(_.foreach { s =>
      lengths(cell) = if (s == null) -1 else { text.append(s); s.length }
      cell += 1
    })
    new PackedRows(widths, lengths, text.toString, types)
  }
}
