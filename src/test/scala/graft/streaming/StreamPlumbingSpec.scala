package graft.streaming

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The stream gates share one source and one sink: every gate reads its
  * staged CSVs through `csvStream` and runs its append-mode parquet
  * sink through `runToParquet`, so the micro-batch options and the state
  * confs are spelled once and a per-gate hook has one place to go.
  */
class StreamPlumbingSpec extends AnyFunSuite {

  test("StreamQueries builds file-stream sources and parquet sinks in one place each") {
    val path = Paths.get("src", "main", "scala", "graft", "streaming",
      "StreamQueries.scala")
    assert(Files.isRegularFile(path), s"run from the repo root: $path")
    // code tokens only: a comment may mention readStream freely
    val code = Files.readString(path)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")
    def sites(token: String) = code.sliding(token.length).count(_ == token)
    val hint = "a new stream gate reads through csvStream and writes " +
      "its parquet sink through runToParquet"
    assert(sites("s.readStream") == 1, s"${sites("s.readStream")} readStream sites: $hint")
    assert(sites(""".format("parquet")""") == 1,
      s"""${sites(""".format("parquet")""")} parquet sinks: $hint""")
  }
}
