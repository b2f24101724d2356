package graft.extract

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Jupyter notebook (.ipynb) → markdown.
  *
  * In the reference's supported surface: `application/x-ipynb+json` sits in
  * its pandoc-supported MIME registry (`mime_types.py:93`) and `.ipynb` in
  * `EXT_TO_MIME` (`mime_types.py:164`); SUPPORTED_MIME_TYPES unions both
  * (`mime_types.py:168-174`). The reference delegates the conversion to
  * pandoc; this is a from-scratch reimplementation of the public nbformat
  * spec (v4 `cells`, legacy v3 `worksheets[].cells`) with a deterministic
  * markdown contract:
  *
  *   - markdown / raw cells → source verbatim
  *   - v3 `heading` cells → `#` * level + source
  *   - code cells → fenced block tagged with the notebook language
  *     (`metadata.language_info.name`, else `metadata.kernelspec.language`,
  *     else v3 `metadata.language`)
  *   - outputs: `stream` text and `execute_result` / `display_data` (v3
  *     `pyout`) `data["text/plain"]` → untagged fence; `error` / v3 `pyerr`
  *     → untagged fence of `ename: evalue` + traceback with ANSI color
  *     escapes stripped
  *   - blocks joined by blank lines; a fence widens past any backtick run
  *     inside its body so embedded ``` never breaks out
  *
  * Malformed JSON throws — the pipeline converts that into a failure row.
  * Parsed with Jackson, which ships in Spark's own runtime classpath.
  */
object IpynbExtract {

  private val mapper = new ObjectMapper()
  private val Ansi = "\\u001b\\[[0-9;]*[A-Za-z]".r

  def toMarkdown(json: String): String = {
    val root = mapper.readTree(json)
    if (root == null || !root.isObject)
      throw new IllegalArgumentException("ipynb: not a JSON object")
    val lang = languageOf(root)
    val cells: Seq[JsonNode] =
      if (root.has("cells")) arr(root.get("cells"))
      else if (root.has("worksheets"))
        arr(root.get("worksheets")).flatMap(w => arr(w.get("cells")))
      else throw new IllegalArgumentException("ipynb: no cells/worksheets")
    val blocks = cells.flatMap(cellBlocks(_, lang)).filter(_.nonEmpty)
    blocks.mkString("\n\n")
  }

  private def arr(n: JsonNode): Seq[JsonNode] =
    if (n == null || !n.isArray) Nil else n.elements().asScala.toSeq

  /** nbformat "multiline string": either a JSON string or a list of line
    * strings that already carry their trailing newlines.
    */
  private def text(n: JsonNode): String =
    if (n == null) ""
    else if (n.isArray) arr(n).map(_.asText("")).mkString("")
    else n.asText("")

  private def languageOf(root: JsonNode): String = {
    val md = root.get("metadata")
    if (md == null) return ""
    val li = md.get("language_info")
    val fromInfo = if (li != null && li.has("name")) li.get("name").asText("") else ""
    if (fromInfo.nonEmpty) return fromInfo
    val ks = md.get("kernelspec")
    val fromKernel = if (ks != null && ks.has("language")) ks.get("language").asText("") else ""
    if (fromKernel.nonEmpty) return fromKernel
    if (md.has("language")) md.get("language").asText("") else ""
  }

  private def cellBlocks(cell: JsonNode, lang: String): Seq[String] = {
    val kind = if (cell.has("cell_type")) cell.get("cell_type").asText("") else ""
    kind match {
      case "markdown" | "raw" =>
        Seq(strip(text(cell.get("source"))))
      case "heading" => // nbformat 3
        val level = if (cell.has("level")) math.max(1, cell.get("level").asInt(1)) else 1
        Seq(("#" * level) + " " + strip(text(cell.get("source"))))
      case "code" =>
        val src = strip(text(
          if (cell.has("source")) cell.get("source") else cell.get("input")))
        val code = if (src.isEmpty) Nil else Seq(MdShared.fence(src, lang))
        code ++ arr(cell.get("outputs")).flatMap(outputBlock)
      case _ => Nil
    }
  }

  private def outputBlock(out: JsonNode): Option[String] = {
    val kind = if (out.has("output_type")) out.get("output_type").asText("") else ""
    val body = kind match {
      case "stream" => strip(text(out.get("text")))
      case "execute_result" | "display_data" =>
        val data = out.get("data")
        if (data != null && data.has("text/plain")) strip(text(data.get("text/plain")))
        else strip(text(out.get("text"))) // nbformat 3 keeps it under "text"
      case "pyout" => // nbformat 3 execute result
        strip(text(out.get("text")))
      case "error" | "pyerr" =>
        val ename = if (out.has("ename")) out.get("ename").asText("") else ""
        val evalue = if (out.has("evalue")) out.get("evalue").asText("") else ""
        val tb = arr(out.get("traceback")).map(l => Ansi.replaceAllIn(l.asText(""), ""))
        strip((s"$ename: $evalue" +: tb).mkString("\n"))
      case _ => ""
    }
    if (body.isEmpty) None else Some(MdShared.fence(body, ""))
  }

  private def strip(s: String): String =
    s.replaceAll("\\s+$", "").replaceAll("^\\n+", "")
}
