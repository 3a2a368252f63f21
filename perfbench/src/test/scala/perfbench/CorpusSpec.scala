package perfbench

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {
  private def crc(seed: Long): Long = {
    val base = Files.createDirectories(Paths.get("target", "test-tmp"))
    val dir = Files.createTempDirectory(base, "corpus")
    try Corpus.write(seed, 20000, 4, dir) finally Workloads.wipe(dir)
  }

  test("the same seed gives a byte-identical corpus") {
    assert(crc(7) == crc(7))
  }

  test("another seed gives another corpus") {
    assert(crc(7) != crc(8))
  }

  test("a duplicated id is the same record, and ids repeat about 4 times") {
    assert(Corpus.line(3, 42) == Corpus.line(3, 42))
    val ids = Corpus.ids(3, 40000).toSeq
    assert(ids.distinct.size > 8000 && ids.distinct.size <= 10000)
  }

  test("about a fifth of the records are errors and a tenth are deleted") {
    val levels = (0L until 20000L).map(id =>
      Workloads.Json.readTree(Corpus.line(5, id)).get("level").asText())
    def share(l: String) = levels.count(_ == l) / 20000.0
    assert(math.abs(share("error") - 0.2) < 0.02)
    assert(math.abs(share("debug") - 0.1) < 0.02)
  }
}
