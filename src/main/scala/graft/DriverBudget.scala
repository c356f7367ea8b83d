package graft

/**
 * The engine-wide byte budget for data an operator collects to the driver:
 * quantizer training samples (IVF/PQ/SemDeDup), PQ's per-query LUT
 * broadcast, and the edge list connected components solves on the driver.
 * Row caps bound COUNT, not SIZE (at dim 4096 a 100k-row sample is ~3 GB of
 * driver heap), so every such collect derives its row cap from these bytes
 * and its measured per-row footprint.
 */
private[graft] object DriverBudget {
  val collectBytes: Long = 256L << 20
}
