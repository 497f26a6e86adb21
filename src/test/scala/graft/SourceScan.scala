package graft

import java.io.File
import java.nio.file.Files

/** The main Scala sources as text, for specs that pin where a rule is
  * written: which files may contain a call, or how many times a rule
  * may occur.
  */
object SourceScan {
  private val root = new File("src/main/scala")

  private def scalaFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Nil

  /** (path relative to `src/main/scala`, text) of every main source. */
  def sources: Seq[(String, String)] = {
    require(root.isDirectory, s"no sources under ${root.getAbsolutePath}")
    scalaFiles(root).map(f =>
      root.toPath.relativize(f.toPath).toString -> Files.readString(f.toPath))
  }

  /** The main sources that contain any of `needles`. */
  def filesContaining(needles: String*): Seq[String] =
    sources.collect { case (path, text) if needles.exists(text.contains) => path }

  /** How many times `needle` occurs across the main sources. */
  def occurrences(needle: String): Int =
    matches(java.util.regex.Pattern.quote(needle))

  /** How many times the regular expression `regex` matches across the
    * main sources.
    */
  def matches(regex: String): Int =
    sources.map { case (_, text) => regex.r.findAllMatchIn(text).size }.sum
}
