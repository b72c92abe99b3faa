package graft

import java.nio.file.{Files, Path, Paths}

/** Plumbing shared by the harness mains (Bench, Verify, Explain, ScaleUp,
  * MilanApp, MilanE2E): validated `SPARK_GRAFT_*` numbers, the session
  * width, and where records land. */
object Harness {

  /** `raw` (the value of variable `name`, if set) as a positive integer.
    * A malformed or non-positive value fails naming the variable: a bare
    * `.toLong` throws an anonymous NumberFormatException, and a zero
    * budget or width divides by zero downstream. */
  def positiveLong(name: String, raw: Option[String]): Option[Long] =
    raw.map { s =>
      val v = s.trim.toLongOption.getOrElse(0L)
      require(v > 0, s"$name must be a positive integer, got '$s'")
      v
    }

  /** [[positiveLong]] of environment variable `name`. */
  def envPositiveLong(name: String): Option[Long] =
    positiveLong(name, sys.env.get(name))

  /** `raw` (the value of variable `name`, if set) as a set of catalog query
    * names: comma-separated, each trimmed, empty items dropped. A list
    * naming no query, or naming one not in `known`, fails naming the
    * variable and the unknown names: a misspelled filter would otherwise
    * run fewer queries than asked, or none, and still exit 0. */
  def queryFilter(name: String, raw: Option[String], known: Set[String]): Option[Set[String]] =
    raw.map { s =>
      val names = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
      require(names.nonEmpty, s"$name names no query, got '$s'")
      val unknown = names -- known
      require(unknown.isEmpty, s"$name names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      names
    }

  /** Catalog queries graft.Verify runs at once. */
  val VerifyParallelism = 4

  /** `local[N]` width of every main: `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: Int = envPositiveLong("SPARK_GRAFT_CPUS").fold(32)(_.toInt)

  /** Default directory for run records: the working directory, except at a
    * repo root (a `.git` directory is present), where ad-hoc runs would
    * overwrite the committed records; there it is a per-user directory
    * under `java.io.tmpdir`, so two users on one host never share files.
    * A deliberate record refresh names the repo path explicitly. */
  def defaultOutDir: Path =
    if (Files.isDirectory(Paths.get(".git")))
      Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        s"graft_bench-${sys.props.getOrElse("user.name", "unknown")}")
    else Paths.get(".")

  /** Writes `text` plus a newline to `path`, creating parent directories. */
  def writeFile(path: Path, text: String): Unit = {
    val parent = path.toAbsolutePath.getParent
    if (parent != null) Files.createDirectories(parent)
    Files.writeString(path, text + "\n")
  }
}

/** The two pieces of JSON rendering the records need. */
object Json {

  /** String literal with quote, backslash and every control character
    * escaped: a tab or CR in a query's SQL would otherwise make the
    * reader's `json.load` fail. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `d` with `digits` decimals in `Locale.ROOT`: the default locale may
    * use a decimal comma, which is not JSON. */
  def fixed(d: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(d))
}
