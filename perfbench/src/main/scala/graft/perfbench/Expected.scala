package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Outputs recorded per workload and seed in `expected.json`. A seed with no
  * record is checked against the run's own independent references only.
  */
final class Expected(root: JsonNode) {
  def get(workload: String, seed: Long): Option[JsonNode] =
    Option(root).flatMap(r => Option(r.get(workload))).flatMap(w => Option(w.get(seed.toString)))
}

object Expected {
  def load(path: String): Expected = {
    val f = new java.io.File(path)
    new Expected(if (f.isFile) new ObjectMapper().readTree(f) else null)
  }

  def pair(n: JsonNode): (Long, Long) = (n.get(0).asLong, n.get(1).asLong)
}
