package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Scala sources with their comments removed, for the source-count
  * guards: a count then sees code only, so a comment that names an API
  * cannot move it. `//` and nested `/* */` comments are dropped; string
  * and char literals, which may hold comment markers, are kept as is.
  */
object SourceCode {

  /** Every `.scala` file under `root`, as (path, code without comments). */
  def under(root: String): Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
      .sortBy(_.toString)
      .map(p => p -> stripComments(new String(Files.readAllBytes(p), UTF_8)))
    finally walk.close()
  }

  def of(path: String): String =
    stripComments(new String(Files.readAllBytes(Paths.get(path)), UTF_8))

  def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def at(s: String): Boolean = src.startsWith(s, i)
    def copyTo(end: Int): Unit = { out ++= src.substring(i, end); i = end }
    while (i < n) {
      if (at("//")) {
        while (i < n && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        do {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        } while (depth > 0 && i < n)
        out += ' '
      } else if (at("\"\"\"")) {
        var end = src.indexOf("\"\"\"", i + 3)
        if (end < 0) end = n else end += 3
        while (end < n && src(end) == '"') end += 1
        copyTo(end)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        copyTo(math.min(j + 1, n))
      } else if (src(i) == '\'' && i + 2 < n && src(i + 1) != '\\' && src(i + 2) == '\'') {
        copyTo(i + 3)
      } else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\') {
        val end = src.indexOf('\'', i + 3)
        copyTo(if (end < 0) n else end + 1)
      } else {
        out += src(i)
        i += 1
      }
    }
    out.toString
  }
}
