package graft
import org.apache.spark.sql.{Row, SparkSession}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare.
  *
  * `--digest <sfDir> <outFile> [queryName...]` writes golden digests
  * instead: one [[digest]] line per query (see `digests/`).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val digestMode = args.headOption.contains("--digest")
    // args: sfDir out [queryName...] — the optional names restrict the
    // dump for local iteration; the driver passes only (sfDir, outDir)
    val rest = if (digestMode) args.drop(1) else args
    val Array(sfDir, out) = rest.take(2)
    val nameFilter: String => Boolean =
      if (rest.length > 2) rest.drop(2).toSet else (_ => true)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (digestMode) {
      val names = SparkEntry.queries.keys.toSeq.sorted.filter(nameFilter)
      Files.writeString(Paths.get(out),
        (DigestHeader +: names.map(digest(spark, sfDir, _))).mkString("", "\n", "\n"))
    } else dump(spark, sfDir, out, nameFilter)
    spark.stop()
  }

  private def dump(spark: SparkSession, sfDir: String, outDir: String,
                   nameFilter: String => Boolean): Unit = {
    new java.io.File(outDir).mkdirs()
    // stable (sorted) emission order: the driver slices/enumerates results,
    // and Map iteration order is build-dependent — r10 dropped
    // q_window_range_frame from the verified set with no error logged.
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => nameFilter(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  val DigestHeader = "# query\trows\tschema\tsha256 of sorted rows ('-' = unstable across runs)"

  /** One golden-digest line: `name \t rows \t schema \t hash`. The hash is
    * SHA-256 over the result's rows rendered with columns in schema order,
    * exact values (only -0.0 folds onto 0.0, as pandas compares) and the
    * rendered rows sorted — the normalisation of
    * `scripts/check_determinism.py`, so row order never matters. A query
    * that throws gives `name \t ERROR \t <exception>`.
    */
  def digest(spark: SparkSession, sfDir: String, name: String): String =
    try {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.catalogString}").mkString(",")
      val rows = df.collect().map(r => render(r)).sorted
      val sha = java.security.MessageDigest.getInstance("SHA-256")
      rows.foreach { r => sha.update(r.getBytes(UTF_8)); sha.update('\n'.toByte) }
      val hash = sha.digest().map(b => f"${b & 0xff}%02x").mkString
      s"$name\t${rows.length}\t$schema\t$hash"
    } catch { case e: Throwable =>
      val msg = s"${e.getClass.getName}: ${e.getMessage}".linesIterator.nextOption().getOrElse("")
      s"$name\tERROR\t${msg.replace('\t', ' ')}"
    }

  private def render(v: Any): String = v match {
    case null => "\\N"
    case d: Double => if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case f: Float => if (f == 0.0f) "0.0" else java.lang.Float.toString(f)
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("x'", "", "'")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k) + "->" + render(x) }.mkString("map(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }
}
