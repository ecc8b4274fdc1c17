package perfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import graft.wikidata.GenWd

/** Seeded Wikidata dump for the benchmark: entities
  * [seed·n, seed·n + n) of `GenWd.entityJson(i, zipf = true)`, as a
  * plain NDJSON twin of `parts` files and, on request, a bz2 twin
  * compressed from it.
  *
  * Part k holds the same contiguous index range Spark's
  * `range(0, n, 1, parts)` gives partition k, so at seed 0 the parts,
  * read in name order, reproduce `GenWd <dir> n parts zipf` line for
  * line. `_DONE.<twin>` markers make the output a cache keyed by
  * (seed, n, parts).
  *
  * Usage: GenDump <outDir> <seed> <n> <parts> <plain|bz2>
  */
object GenDump {
  def main(args: Array[String]): Unit = {
    val Array(out, seedS, nS, partsS, twin) = args
    val (seed, n, parts) = (seedS.toLong, nS.toLong, partsS.toInt)
    require(twin == "plain" || twin == "bz2", s"twin $twin: want plain or bz2")
    val pool = Executors.newFixedThreadPool(
      math.min(parts, Runtime.getRuntime.availableProcessors))
    def eachPart(f: Int => Unit): Unit = {
      val jobs = (0 until parts).map(k => pool.submit(new Runnable { def run(): Unit = f(k) }))
      jobs.foreach(_.get())
    }
    def name(k: Int) = f"part-$k%05d.ndjson"
    try {
      once(out, "plain") {
        eachPart { k =>
          val w = open(s"$out/plain/${name(k)}")
          try {
            var i = k.toLong * n / parts
            while (i < (k + 1).toLong * n / parts) {
              w.write((GenWd.entityJson(seed * n + i, zipf = true) + "\n").getBytes(UTF_8))
              i += 1
            }
          } finally w.close()
        }
      }
      if (twin == "bz2") once(out, "bz2") {
        eachPart { k =>
          val codec = new org.apache.hadoop.io.compress.BZip2Codec()
          codec.setConf(new org.apache.hadoop.conf.Configuration(false))
          val w = codec.createOutputStream(open(s"$out/bz2/${name(k)}.bz2"))
          try Files.copy(Paths.get(s"$out/plain/${name(k)}"), w)
          finally w.close()
        }
      }
    } finally pool.shutdown()
  }

  private def once(out: String, twin: String)(write: => Unit): Unit = {
    val done = Paths.get(out, s"_DONE.$twin")
    if (!Files.exists(done)) {
      Files.createDirectories(Paths.get(out, twin))
      write
      Files.write(done, Array.emptyByteArray)
    }
  }

  private def open(path: String): OutputStream =
    new BufferedOutputStream(new FileOutputStream(path), 1 << 16)
}
