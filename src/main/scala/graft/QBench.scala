package graft

/**
 * Standalone per-query bench: `runMain graft.QBench <sfDir> <prefixes>`
 * runs just the named entries (comma-separated name prefixes, from
 * `queries` ++ `benchExtra`) in a fresh JVM through [[Bench.timeEntries]]
 * — one warm-up pass, two timed passes, min per query, the exact timing
 * discipline of [[Bench]] — and prints one JSON line (entries that threw
 * are listed under `failed`). `QBench <sfDir> q75_,q75b` times the q75
 * build and its stored-index probe alone.
 *
 * This is the isolated-A/B tool the round-12 verdict asked for: a
 * driver board pass times ~240 entries in one JVM, so any single
 * entry's reading carries session residue (page cache, GC, warehouse
 * state); adjudicating a >2× driver ratio needs the same query timed
 * alone at the same SF. SCALE.md's in-board-variance paragraph records
 * what this tool measured.
 */
object QBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QBench <sfDir> <prefix1,prefix2,...>")
    val (sfDir, prefixes) = (args(0), args(1).split(',').toSeq)
    val spark = GraftSession.build("graft-qbench")
    val names = Bench.inventory.keys.toSeq.sorted
      .filter(n => prefixes.exists(n.startsWith))
    require(names.nonEmpty, s"no entries match $prefixes")
    val (times, failed) = Bench.timeEntries(spark, sfDir, names, "qbench")
    println(s"""{"qbench":${Bench.secondsJson(times)},"failed":${Bench.namesJson(failed)},"sf_dir":"$sfDir"}""")
    spark.stop()
  }
}
