package perfbench

/** Input sizes. `Full` is what the benchmark measures; `Tiny` runs every
  * code path and check in seconds, for the benchmark's own tests. */
final case class Scale(
    dim: Int,
    centres: Int,
    spread: Double,
    zipfS: Double,
    setups: Int,
    k: Int,
    nprobe: Int,
    batch: Int,
    serveN: Int,
    serveNlist: Int,
    servePool: Int,
    hotLists: Int,
    bulkN: Int,
    bulkNlist: Int,
    bulkQueries: Int,
    pqM: Int,
    pqQueries: Int,
    pqNbits: Int,
    ingestN: Int,
    ingestNlist: Int,
    appendBatch: Int,
    searchesPerAppend: Int,
    families: Int,
    docTokens: Int,
    kernelPairs: Int)

object Scale {
  // three set-ups: the first is cold (JIT, codegen) and the slowest, so
  // their median is a warm one
  val Full: Scale = Scale(
    dim = 128, centres = 256, spread = 2.0, zipfS = 1.1, setups = 3,
    k = 10, nprobe = 10, batch = 64,
    serveN = 8192, serveNlist = 32, servePool = 512, hotLists = 16,
    bulkN = 8192, bulkNlist = 32, bulkQueries = 1536, pqM = 16, pqQueries = 128, pqNbits = 6,
    ingestN = 4096, ingestNlist = 16, appendBatch = 512, searchesPerAppend = 3,
    families = 300, docTokens = 40, kernelPairs = 1 << 16)

  // bulkQueries stays above graft.index.IvfFlatIndex.MaxStaticBatch so the
  // tiny run takes the same distributed path as the full one
  val Tiny: Scale = Scale(
    dim = 16, centres = 8, spread = 1.0, zipfS = 1.1, setups = 2,
    k = 10, nprobe = 3, batch = 16,
    serveN = 2000, serveNlist = 8, servePool = 64, hotLists = 2,
    bulkN = 2000, bulkNlist = 8, bulkQueries = 1100, pqM = 4, pqQueries = 100, pqNbits = 6,
    ingestN = 1000, ingestNlist = 8, appendBatch = 100, searchesPerAppend = 2,
    families = 40, docTokens = 40, kernelPairs = 1 << 10)
}
