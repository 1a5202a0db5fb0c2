package graft.tree

import java.io.{BufferedReader, ByteArrayOutputStream, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonParser,
  JsonProcessingException, JsonToken, StreamReadFeature}
import com.fasterxml.jackson.core.json.JsonReadFeature
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Texts kept back to back as UTF-8, the `k`-th ending at `ends(k)`: the
  * tree's taxonomy lines and annotation entries, as compact as the files
  * hold them, for the broadcast that builds the node rows.
  */
private[tree] final class Texts(val bytes: Array[Byte], ends: Array[Int])
    extends Serializable {
  def start(k: Int): Int = if (k == 0) 0 else ends(k - 1)
  def end(k: Int): Int = ends(k)
  def string(k: Int): String = new String(bytes, start(k), end(k) - start(k), UTF_8)
}

private[tree] final class TextsBuilder {
  val out = new ByteArrayOutputStream()
  private val ends = ArrayBuffer.empty[Int]
  /** Close the text written to `out` since the last one; its index. */
  def close(): Int = { ends += out.size(); ends.length - 1 }
  def result(): Texts = new Texts(out.toByteArray, ends.toArray)
}

/** The tree-level fields of an annotations JSON, as the Spark reader
  * (`get_json_object`, then `from_json` for arrays and maps) gave them.
  * `sourceRows` holds (raw source id, git_sha, tree_id, study_id,
  * taxonomy) in file order.
  */
private[tree] final class AnnotationsHead {
  var treeId, dateCompleted, taxonomyVersion: String = null
  var numTips, numSourceStudies, numSourceTrees: java.lang.Long = null
  var filteredFlags, sources: Array[String] = null
  val sourceRows = ArrayBuffer.empty[Array[String]]
}

/** Driver-side readers of ingest's side files, each one streaming pass
  * through the Hadoop `FileSystem`, as the reference reads them
  * (IngestSynthesisData.java:161-180,184-274 for the taxonomy,
  * :277-287 for the annotations). They keep only what the tree names,
  * and read what they keep exactly as [[TreeIngest.readTaxonomy]] and
  * [[TreeIngest.readAnnotations]] read it. Input the Spark readers would
  * turn into silently wrong rows (a repeated taxonomy uid, a field of
  * the wrong type, a repeated key) is refused with an
  * `IllegalArgumentException` naming the file and the entry.
  */
private[tree] object IngestFiles {

  /** `get_json_object`'s parser features; repeated keys are refused. */
  private val json = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION)
    .build()

  private def open(spark: SparkSession, path: String): InputStream = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
  }

  /** A whole text file, trimmed (a Newick file holds one tree). */
  def readText(spark: SparkSession, path: String): String = {
    val in = open(spark, path)
    try new String(in.readAllBytes(), UTF_8).trim finally in.close()
  }

  /** A string cast to BIGINT as Spark casts it: ASCII control characters
    * and spaces trimmed, an optional sign, decimal digits only; null when
    * that fails or overflows.
    */
  def castLong(s: String): java.lang.Long = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) <= ' ') a += 1
    while (b > a && s.charAt(b - 1) <= ' ') b -= 1
    val d = if (a < b && (s.charAt(a) == '+' || s.charAt(a) == '-')) a + 1 else a
    if (d == b || (d until b).exists(i => s.charAt(i) < '0' || s.charAt(i) > '9')) null
    else try java.lang.Long.valueOf(s.substring(a, b))
    catch { case _: NumberFormatException => null }
  }

  // ---- taxonomy TSV

  private val FieldSep = java.util.regex.Pattern.compile("\t\\|\t")

  /** One taxonomy line as [[TreeIngest.readTaxonomy]] reads it: uid,
    * parent_uid, name, tax_rank, tax_sources (`str_to_map(…, ",", ":")`,
    * in line order), unique_name, flags.
    */
  def taxonomyFields(line: String): Array[Any] = {
    val f = FieldSep.split(line, -1)
    require(f.length >= 7, s"has ${f.length} fields, not 7")
    val sources = LinkedHashMap.empty[String, String]
    f(4).split(",", -1).foreach { kv =>
      val p = kv.split(":", 2)
      require(!sources.contains(p(0)), s"repeats sourceinfo key '${p(0)}'")
      sources(p(0)) = if (p.length < 2) null else p(1)
    }
    Array(castLong(f(0)), castLong(f(1)), f(2), f(3), sources, f(5), f(6))
  }

  /** The taxonomy rows whose uid is a key of `rows`, one streaming pass
    * (the reference's semi-join of the taxonomy to the tree's ids). Each
    * kept line is appended to `out` and its index put into `rows`.
    */
  def readTaxonomy(spark: SparkSession, path: String,
      rows: java.util.HashMap[java.lang.Long, Integer], out: TextsBuilder): Unit = {
    val in = new BufferedReader(new InputStreamReader(open(spark, path), UTF_8))
    try {
      var lineNo = 0
      var line = in.readLine()
      while (line != null) {
        lineNo += 1
        val sep = line.indexOf("\t|\t")
        val uid = castLong(if (sep < 0) line else line.substring(0, sep))
        if (uid != null && rows.containsKey(uid)) {
          def bad(why: String) = refuse(s"taxonomy $path line $lineNo (uid $uid) $why")
          if (rows.get(uid) >= 0) bad("repeats a uid of the tree")
          try taxonomyFields(line)
          catch { case e: IllegalArgumentException =>
            bad(e.getMessage.stripPrefix("requirement failed: ")) }
          out.out.write(line.getBytes(UTF_8))
          rows.put(uid, out.close())
        }
        line = in.readLine()
      }
    } finally in.close()
  }

  // ---- annotations JSON

  /** A value as `get_json_object` returns it: a string's text, null for
    * null, else the value's JSON.
    */
  private def text(p: JsonParser): String = p.currentToken match {
    case JsonToken.VALUE_STRING => p.getText
    case JsonToken.VALUE_NULL => null
    case _ =>
      val out = new java.io.StringWriter()
      val g = json.createGenerator(out)
      g.copyCurrentStructure(p)
      g.close()
      out.toString
  }

  private def refuse(why: String): Nothing = throw new IllegalArgumentException(why)

  /** Strings of a JSON array, null for null. */
  private def strings(p: JsonParser, what: String): Array[String] =
    p.currentToken match {
      case JsonToken.VALUE_NULL => null
      case JsonToken.START_ARRAY =>
        val out = ArrayBuffer.empty[String]
        while (p.nextToken() != JsonToken.END_ARRAY) out += text(p)
        out.toArray
      case _ => refuse(s"$what is not an array")
    }

  /** A JSON object as an insertion-ordered map, null for null. */
  private def entries[V](p: JsonParser, what: String)(value: => V): LinkedHashMap[String, V] =
    p.currentToken match {
      case JsonToken.VALUE_NULL => null
      case JsonToken.START_OBJECT =>
        val m = LinkedHashMap.empty[String, V]
        while (p.nextToken() != JsonToken.END_OBJECT) {
          val k = p.currentName
          p.nextToken()
          m(k) = value
        }
        m
      case _ => refuse(s"$what is not an object")
    }

  /** Re-read a value from its `get_json_object` text, as `from_json` reads
    * the output of `get_json_object` (a value such as 1e400 changes type
    * on the way).
    */
  private def reread[T](p: JsonParser)(read: JsonParser => T): T = {
    val out = new ByteArrayOutputStream()
    val g = json.createGenerator(out)
    g.copyCurrentStructure(p)
    g.close()
    val q = json.createParser(out.toByteArray)
    try { q.nextToken(); read(q) } finally q.close()
  }

  private val StringMaps = Set("supported_by", "terminal", "partial_path_of", "resolves")
  private val ArrayMaps = Set("conflicts_with", "resolved_by")
  private val Flags = Set("was_constrained", "was_uncontested")
  private val Fields = TreeIngest.annotationStruct.fieldNames

  /** The [[TreeIngest.annotationStruct]] fields of the node entry in
    * `bytes(off until off + len)`, in schema order; maps keep the file's
    * order.
    */
  def annotationFields(bytes: Array[Byte], off: Int, len: Int): Array[AnyRef] = {
    val p = json.createParser(bytes, off, len)
    try {
      val out = new Array[AnyRef](Fields.length)
      p.nextToken()
      while (p.nextToken() != JsonToken.END_OBJECT) {
        val name = p.currentName
        p.nextToken()
        val v: AnyRef =
          if (StringMaps(name)) entries(p, s"'$name'")(text(p))
          else if (ArrayMaps(name)) entries(p, s"'$name'")(strings(p, s"'$name'"))
          else if (Flags(name)) p.currentToken match {
            case JsonToken.VALUE_TRUE => java.lang.Boolean.TRUE
            case JsonToken.VALUE_FALSE => java.lang.Boolean.FALSE
            case JsonToken.VALUE_NULL => null
            case _ => refuse(s"'$name' is not a boolean")
          }
          else { p.skipChildren(); null }
        val i = Fields.indexOf(name)
        if (i >= 0) out(i) = v
      }
      out
    } finally p.close()
  }

  def annotationFields(entries: Texts, k: Int): Array[AnyRef] =
    annotationFields(entries.bytes, entries.start(k), entries.end(k) - entries.start(k))

  /** One pass over an annotations JSON: the tree-level fields, and every
    * `nodes` entry whose key is a key of `entryOf`, copied to `out` with
    * its index put into `entryOf` (a null entry is left out: it adds no
    * value). Every entry is checked with [[annotationFields]], and an
    * entry of an `ott<uid>` node must not hold the `ott<taxonomy_version>`
    * support that ingest adds to it.
    */
  def readAnnotations(spark: SparkSession, path: String,
      entryOf: java.util.HashMap[String, Integer], out: TextsBuilder): AnnotationsHead = {
    val head = new AnnotationsHead
    val ottSupport = ArrayBuffer.empty[(String, LinkedHashMap[String, String])]
    val p = json.createParser(open(spark, path))
    val where = s"annotations $path"
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) refuse(s"$where is not a JSON object")
      while (p.nextToken() != JsonToken.END_OBJECT) {
        val name = p.currentName
        p.nextToken()
        def long(): java.lang.Long = {
          val t = text(p)
          val v = if (t == null) null else castLong(t)
          if (t != null && v == null) refuse(s"$where: '$name' is $t, not an integer")
          v
        }
        name match {
          case "tree_id" => head.treeId = text(p)
          case "date_completed" => head.dateCompleted = text(p)
          case "taxonomy_version" => head.taxonomyVersion = text(p)
          case "num_tips" => head.numTips = long()
          case "num_source_studies" => head.numSourceStudies = long()
          case "num_source_trees" => head.numSourceTrees = long()
          case "filtered_flags" => head.filteredFlags = reread(p)(strings(_, s"$where: '$name'"))
          case "sources" => head.sources = reread(p)(strings(_, s"$where: '$name'"))
          case "source_id_map" => reread(p) { q =>
            entries(q, s"$where: '$name'") {
              val raw = q.currentName
              val m = entries(q, s"$where: source_id_map '$raw'")(text(q))
              val get = (k: String) => if (m == null) null else m.getOrElse(k, null)
              head.sourceRows += Array(raw, get("git_sha"), get("tree_id"),
                get("study_id"), get("taxonomy"))
            }
          }
          case "nodes" if p.currentToken == JsonToken.START_OBJECT =>
            val entry = new ByteArrayOutputStream()
            while (p.nextToken() != JsonToken.END_OBJECT) {
              val key = p.currentName
              p.nextToken()
              if (p.currentToken == JsonToken.START_OBJECT) {
                entry.reset()
                val g = json.createGenerator(entry)
                g.copyCurrentStructure(p)
                g.close()
                val bytes = entry.toByteArray
                val f = try annotationFields(bytes, 0, bytes.length)
                  catch { case e: IllegalArgumentException =>
                    refuse(s"$where: node entry '$key': ${e.getMessage}") }
                if (entryOf.containsKey(key)) {
                  out.out.write(bytes)
                  entryOf.put(key, out.close())
                  val support = f(0).asInstanceOf[LinkedHashMap[String, String]]
                  if (support != null && TreeIngest.ottUid(key) != null)
                    ottSupport += key -> support
                }
              } else if (p.currentToken != JsonToken.VALUE_NULL)
                refuse(s"$where: node entry '$key' is not an object")
            }
          case "nodes" if p.currentToken != JsonToken.VALUE_NULL =>
            refuse(s"$where: 'nodes' is not an object")
          case _ => p.skipChildren()
        }
      }
    } catch {
      case e: JsonProcessingException =>
        refuse(s"$where is not valid JSON: ${e.getOriginalMessage} at " +
          s"line ${e.getLocation.getLineNr}, column ${e.getLocation.getColumnNr}")
    } finally p.close()
    if (head.taxonomyVersion != null) {
      val ottKey = "ott" + head.taxonomyVersion
      ottSupport.foreach { case (key, support) =>
        if (support.contains(ottKey)) refuse(s"$where: node entry '$key' " +
          s"already holds '$ottKey' in supported_by, the taxonomy support ingest adds")
      }
    }
    head
  }
}
