package perfbench

import java.io.BufferedOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.SplittableRandom
import java.util.zip.CRC32

/** Seeded event corpora for the YAML workloads. Every record is a pure
  * function of (seed, id), so a duplicated id is a byte-identical line and
  * a dedupe that keeps any copy yields the same output. Shape:
  *
  *  - `id`: drawn with heavy duplication (about 4 draws per distinct id);
  *  - `user`: Zipf-like skew over 2,000 users, so a few keys dominate;
  *  - `level`: about 20% `error`, 10% `debug` (deleted by the mapping),
  *    the rest `info`/`warn`;
  *  - `latency_ms`: 0..999, error records above 900 take the `throw()`
  *    branch of the batch pipeline.
  */
object Corpus {
  private val Regions = Array("eu-west", "us-east", "us-west", "ap-south")
  private val Words = Array("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")

  /** One event line for `id`, identical for every draw of that id. */
  def line(seed: Long, id: Long): String = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ id)
    val u = r.nextDouble()
    val level = if (u < 0.2) "error" else if (u < 0.3) "debug"
      else if (u < 0.65) "info" else "warn"
    // inverse-power draw: user 0 is about 500x as common as user 1,999
    val user = (2000 * math.pow(r.nextDouble(), 3.0)).toInt
    val msg = (0 until 3 + r.nextInt(6)).map(_ => Words(r.nextInt(Words.length)))
      .mkString(" ")
    s"""{"id":$id,"user":"u$user","level":"$level",""" +
      s""""region":"${Regions(r.nextInt(Regions.length))}",""" +
      s""""latency_ms":${r.nextInt(1000)},"bytes":${r.nextInt(1 << 16)},""" +
      s""""msg":"$msg"}"""
  }

  /** Ids of `n` draws: a quarter as many distinct ids as draws. */
  def ids(seed: Long, n: Int): Iterator[Long] = {
    val r = new SplittableRandom(seed)
    val distinct = math.max(1, n / 4)
    Iterator.fill(n)(r.nextInt(distinct).toLong)
  }

  /** Write `n` records as `files` JSON-lines files under `dir` and return
    * the CRC32 of all bytes written, in file order. */
  def write(seed: Long, n: Int, files: Int, dir: Path): Long = {
    Files.createDirectories(dir)
    val crc = new CRC32
    val all = ids(seed, n)
    val per = (n + files - 1) / files
    for (f <- 0 until files) {
      val path = dir.resolve(f"part-$f%04d.json")
      val out = new BufferedOutputStream(Files.newOutputStream(path), 1 << 16)
      try {
        var i = 0
        while (i < per && all.hasNext) {
          val b = (line(seed, all.next()) + "\n").getBytes(UTF_8)
          crc.update(b)
          out.write(b)
          i += 1
        }
      } finally out.close()
      // distinct, increasing mtimes: the streaming file source orders its
      // backlog by modification time
      Files.setLastModifiedTime(path,
        FileTime.fromMillis(1000000000000L + f * 1000L))
    }
    crc.getValue
  }
}
