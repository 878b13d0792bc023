package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s.{DefaultFormats, Formats, JValue}
import org.json4s.jackson.JsonMethods

/** The snapshot store's one JSON codec: json4s, the library Spark's own
  * `DataType.json` renders schemas with, so a schema nests in a version
  * record as its own JSON value. Every metadata file the store writes —
  * the version record, the stats manifest, the bloom sidecars — is JSON
  * lines through [[write]] and [[read]]; documents are built with the
  * json4s AST and taken apart through [[formats]]. */
private[graft] object StoreJson {

  implicit val formats: Formats = DefaultFormats

  def render(doc: JValue): String = JsonMethods.compact(doc)

  def parse(line: String): JValue = JsonMethods.parse(line)

  /** Replace `p` with `docs`, one per line, lines sorted so a file's
    * bytes do not depend on the order a scan returned its entries. */
  def write(f: FileSystem, p: Path, docs: Seq[JValue]): Unit = {
    val out = f.create(p, true)
    try out.write(docs.map(render).sorted.map(_ + "\n").mkString
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** The documents of `p`, one per non-empty line. */
  def read(f: FileSystem, p: Path): Seq[JValue] = {
    val in = f.open(p)
    val text =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty).map(parse)
  }
}
