package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Grep-gate for the text-stat staging discipline (r20, VERDICT r19
  * #7): the text-input stat forms (`TextStats.qualityScore(text)` and
  * friends) inline the interpreted tokenizer once per reference and
  * codegen CSE does not collapse the copies — qualityScore alone
  * expands the split 6× per row. Every call site was migrated to the
  * staged `*FromTokens` forms (or a staged `size(__tk)`) across r19/
  * r20; this gate keeps a new call site from silently re-introducing
  * the 6–10× per-row expansion. The text-input forms stay public —
  * they are the single-use-safe API and TextStats' own composition —
  * but library/query code must stage. The second gate keeps the
  * sliding word n-gram stream in its one home, `TextStats.wordGrams`.
  */
class TextStagingGateSpec extends AnyFunSuite {

  private val gatedForms = Seq(
    "TextStats.qualityScore(",
    "TextStats.typeTokenRatio(",
    "TextStats.meanTokenLength(",
    "TextStats.stopwordRatio(",
    // single expansion (size ∘ tokens), but staged everywhere for
    // consistency so a second consumer added later can't double it
    "TextStats.tokenCount(")

  test("no text-input stat call sites outside TextStats itself") {
    val root = Paths.get("src/main/scala/graft")
    assume(Files.isDirectory(root), s"source tree not visible from ${Paths.get("").toAbsolutePath}")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.toString.endsWith("text/TextStats.scala"))
      .flatMap { p =>
        val lines = Files.readAllLines(p).asScala
        lines.zipWithIndex.collect {
          case (line, i) if gatedForms.exists(line.contains) =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty,
      "text-input stat forms re-tokenize per reference — stage the token " +
        "array and use the *FromTokens variants instead:\n" +
        offenders.mkString("\n"))
  }

  test("the sliding word n-gram stream is built only in TextStats.wordGrams") {
    val root = Paths.get("src/main/scala/graft")
    assume(Files.isDirectory(root), s"source tree not visible from ${Paths.get("").toAbsolutePath}")
    val built = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        if (!src.contains("slice(toks,")) Nil
        else src.linesIterator.zipWithIndex.collect {
          case (line, i) if line.contains("sequence(1, size(toks) -") =>
            s"$p:${i + 1}: ${line.trim}"
        }.toList
      }.toList
    assert(built.size == 1 && built.head.contains("text/TextStats.scala"),
      "word n-grams are built by hand — call TextStats.wordGrams instead:\n" +
        built.mkString("\n"))
  }
}
