package graft.sinks

import org.apache.spark.sql.DataFrame

/** K8 — report writers (the reference's docx adapter,
  * `utils/adapters/docx_helpers.py:4-115`: paragraphs with styles,
  * tables with header/caption/cell-merges, figures with captions).
  *
  * Reports are inherently driver-side artifacts — a document is built
  * from a handful of human-scale blocks, not a data path. The Spark
  * discipline is the boundary: [[Report.table]] takes an already
  * BOUNDED frame (an aggregate, a top-k) and enforces a row cap on the
  * collect, so a report can never accidentally pull a 100-TB frame
  * through the driver.
  *
  * The document model is backend-neutral; [[MarkdownRenderer]] and
  * [[HtmlRenderer]] are the text backends, and [[DocxRenderer]] emits
  * the reference's native OOXML format (zip + WordprocessingML,
  * dependency-free) over the same blocks.
  */
object Report {

  sealed trait Block

  /** `docx_write_text` analog: style is a named paragraph style,
    * align ∈ left/center/right/justify (`docx_helpers.py:14-35`).
    */
  final case class Paragraph(text: String, style: String = "Normal",
                             align: String = "left") extends Block
  final case class Heading(level: Int, text: String) extends Block

  /** `docx_insert_table` analog (`docx_helpers.py:37-61`); mergeGroups
    * carries the docx cell-merge spec (groups of 0-based (row,col),
    * first cell is the master) for backends that support it — the
    * text backends render the unmerged grid.
    */
  final case class Table(header: Seq[String], rows: Seq[Seq[String]],
                         caption: Option[String] = None,
                         style: Option[String] = None,
                         mergeGroups: Seq[Seq[(Int, Int)]] = Nil) extends Block

  /** `docx_insert_picture` analog: a path reference, never inlined. */
  final case class Figure(path: String, caption: Option[String] = None,
                          widthInches: Option[Double] = None) extends Block

  /** Bounded frame→table bridge: caps the collect at `maxRows` and
    * APPENDS a truncation marker row when the frame had more — silent
    * truncation would read as "that was all the data".
    */
  def table(df: DataFrame, maxRows: Int = 1000,
            caption: Option[String] = None,
            style: Option[String] = None): Table = {
    val taken = df.limit(maxRows + 1).collect()
    val truncated = taken.length > maxRows
    val shown = taken.take(maxRows).map(_.toSeq.map {
      case null => ""
      case v    => v.toString
    }.toSeq).toSeq
    val rows =
      if (truncated)
        shown :+ df.columns.toSeq.map(_ => s"… (truncated at $maxRows rows)")
      else shown
    Table(df.columns.toSeq, rows, caption, style)
  }

  trait Renderer {
    def render(blocks: Seq[Block]): String
  }

  /** Mutable builder mirroring the adapter's append-only doc calls. */
  final class Builder {
    private val blocks = scala.collection.mutable.ListBuffer.empty[Block]
    def add(b: Block): Builder = { blocks += b; this }
    def heading(level: Int, text: String): Builder = add(Heading(level, text))
    def paragraph(text: String, style: String = "Normal",
                  align: String = "left"): Builder =
      add(Paragraph(text, style, align))
    def figure(path: String, caption: Option[String] = None): Builder =
      add(Figure(path, caption))
    def frame(df: DataFrame, maxRows: Int = 1000,
              caption: Option[String] = None): Builder =
      add(table(df, maxRows, caption))
    def build(): Seq[Block] = blocks.toList
    def write(path: String, renderer: Renderer): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
        renderer.render(build()))
  }

  def builder(): Builder = new Builder
}

/** GitHub-flavored-markdown backend. */
object MarkdownRenderer extends Report.Renderer {
  import Report._

  private def esc(s: String): String = s.replace("|", "\\|").replace("\n", " ")

  override def render(blocks: Seq[Block]): String = blocks.map {
    case Heading(level, text) => "#" * math.max(1, math.min(6, level)) + " " + text
    case Paragraph(text, _, _) => text
    case Figure(path, caption, _) =>
      s"![${caption.getOrElse("")}]($path)" +
        caption.map(c => s"\n*Figure: $c*").getOrElse("")
    case Table(header, rows, caption, _, _) =>
      val head = header.map(esc).mkString("| ", " | ", " |")
      val sep = header.map(_ => "---").mkString("| ", " | ", " |")
      val body = rows.map(_.map(esc).mkString("| ", " | ", " |"))
      (Seq(head, sep) ++ body ++ caption.map(c => s"\n*Table: $c*").toSeq)
        .mkString("\n")
  }.mkString("\n\n") + "\n"
}

/** Self-contained HTML backend (no external assets). */
object HtmlRenderer extends Report.Renderer {
  import Report._

  // shared escaper INCLUDING quotes: esc is used inside attribute
  // values (class="..."), where an unescaped quote breaks out of the
  // attribute
  private def esc(s: String): String = Escape.xml(s)

  override def render(blocks: Seq[Block]): String = {
    val body = blocks.map {
      case Heading(level, text) =>
        val l = math.max(1, math.min(6, level)); s"<h$l>${esc(text)}</h$l>"
      case Paragraph(text, style, align) =>
        s"""<p class="${esc(style)}" style="text-align:${esc(align)}">${esc(text)}</p>"""
      case Figure(path, caption, width) =>
        val w = width.map(in => s""" width="${(in * 96).toInt}"""").getOrElse("")
        s"""<figure><img src="${esc(path)}"$w/>""" +
          caption.map(c => s"<figcaption>Figure: ${esc(c)}</figcaption>").getOrElse("") +
          "</figure>"
      case Table(header, rows, caption, style, _) =>
        val cls = style.map(s => s""" class="${esc(s)}"""").getOrElse("")
        val head = header.map(h => s"<th>${esc(h)}</th>").mkString
        val body = rows.map(r =>
          r.map(c => s"<td>${esc(c)}</td>").mkString("<tr>", "", "</tr>")).mkString
        s"<table$cls><thead><tr>$head</tr></thead><tbody>$body</tbody></table>" +
          caption.map(c => s"<p><em>Table: ${esc(c)}</em></p>").getOrElse("")
    }.mkString("\n")
    s"<!DOCTYPE html>\n<html><body>\n$body\n</body></html>\n"
  }
}
