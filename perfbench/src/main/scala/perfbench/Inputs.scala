package perfbench

import scala.io.Source

/** The seed's inputs, as `inputs.py` wrote them into `<work>/inputs`
  * before the JVM started and listed them in `<work>/inputs.tsv`. */
object Inputs {
  final case class Table(name: String, rows: Long, bytes: Long, files: Int)

  /** Reads the `table rows bytes files` lines of `<work>/inputs.tsv`. */
  def read(work: String): Seq[Table] = {
    val src = Source.fromFile(s"$work/inputs.tsv", "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split('\t')).map {
      case Array(t, rows, bytes, files) =>
        Table(t, rows.toLong, bytes.toLong, files.toInt)
    }.toList
    finally src.close()
  }
}
