package graft

import org.scalatest.BeforeAndAfterAll

/** Mixin that re-runs a caller suite with the GlobalIndex measured-size
  * gate skipped (`spark.graft.gate.forceDistributed=true`), so every
  * GlobalIndex call in it takes the range-partitioned path that runs at
  * scale. Spec inputs are far below the gate's 2^16-row bound, so the
  * suite as written checks the driver path; the re-run checks the same
  * assertions on the ranged path. `rerun` picks the tests to repeat (all
  * by default). */
trait RangedGate extends SparkSpecBase with BeforeAndAfterAll {
  protected def rerun(testName: String): Boolean = true

  override def testNames: Set[String] = super.testNames.filter(rerun)

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(graft.etl.GlobalIndex.ForceDistributedConf, "true")
  }

  override protected def afterAll(): Unit =
    try spark.conf.unset(graft.etl.GlobalIndex.ForceDistributedConf)
    finally super.afterAll()
}

// One ranged re-run per GlobalIndex caller with a spec of its own.
class ShardingRangedSpec extends etl.ShardingSpec with RangedGate
class PaddingReportRangedSpec extends etl.PaddingReportSpec with RangedGate
class ShuffleQualityRangedSpec extends etl.ShuffleQualitySpec with RangedGate
class CurriculumRangedSpec extends etl.CurriculumSpec with RangedGate
class UniMaxRangedSpec extends etl.UniMaxSpec with RangedGate
class EmbargoSplitRangedSpec extends etl.SplitSkewSpec with RangedGate {
  override protected def rerun(t: String): Boolean = !t.startsWith("skew report")
}
class SeededShuffleRangedSpec extends dedup.DedupOpsSpec with RangedGate {
  override protected def rerun(t: String): Boolean = t.startsWith("seeded shuffle")
}
class DunnRangedSpec extends stats.DunnSpec with RangedGate
class LogRankRangedSpec extends stats.LogRankSpec with RangedGate
class RocAucRangedSpec extends stats.RocAucSpec with RangedGate
class SurvivalRangedSpec extends stats.SurvivalSpec with RangedGate
class BestFitPackRangedSpec extends text.BestFitPackSpec with RangedGate
class DsirRangedSpec extends text.DsirSpec with RangedGate
class NgramLmRangedSpec extends text.NgramLmSpec with RangedGate
class CalibrationRangedSpec extends text.CalibrationSpec with RangedGate
class TextOpsPackRangedSpec extends text.TextOpsSpec with RangedGate {
  override protected def rerun(t: String): Boolean = t.contains("pack")
}
class SemanticAdaptiveRangedSpec extends sim.SemanticAdaptiveSpec with RangedGate
class SmoteRangedSpec extends metrics.SamplerSpec with RangedGate {
  override protected def rerun(t: String): Boolean = t.contains("smote")
}
