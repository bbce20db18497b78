package graft

import org.scalatest.BeforeAndAfterAll

/** Mixin that re-runs a caller suite with every [[DriverGate]] skipped
  * (`spark.graft.gate.forceDistributed=true`), so each gated call in it
  * takes the distributed path that runs at scale (for GlobalIndex, the
  * range-partitioned one). Spec inputs are far below the gates' bounds, so
  * the suite as written checks the driver paths; the re-run checks the
  * same assertions on the distributed ones. Each ranged suite re-runs its
  * whole parent suite, tests that reach no gate included. */
trait RangedGate extends SparkSpecBase with BeforeAndAfterAll {
  override protected def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(graft.DriverGate.ForceDistributedConf, "true")
  }

  override protected def afterAll(): Unit =
    try spark.conf.unset(graft.DriverGate.ForceDistributedConf)
    finally super.afterAll()
}

// One ranged re-run per gate caller with a spec of its own, plus
// QualityClassifierSpec (whose fits pin only one input on both paths);
// the DupClusters, BpeMerge and DawidSkene specs force the distributed
// path themselves.
class ShardingRangedSpec extends etl.ShardingSpec with RangedGate
class PaddingReportRangedSpec extends etl.PaddingReportSpec with RangedGate
class ShuffleQualityRangedSpec extends etl.ShuffleQualitySpec with RangedGate
class CurriculumRangedSpec extends etl.CurriculumSpec with RangedGate
class UniMaxRangedSpec extends etl.UniMaxSpec with RangedGate
class EmbargoSplitRangedSpec extends etl.SplitSkewSpec with RangedGate
class SeededShuffleRangedSpec extends dedup.DedupOpsSpec with RangedGate
class DunnRangedSpec extends stats.DunnSpec with RangedGate
class QuantileMapRangedSpec extends stats.QuantileMapSpec with RangedGate
class LogRankRangedSpec extends stats.LogRankSpec with RangedGate
class RocAucRangedSpec extends stats.RocAucSpec with RangedGate
class SurvivalRangedSpec extends stats.SurvivalSpec with RangedGate
class BestFitPackRangedSpec extends text.BestFitPackSpec with RangedGate
class DsirRangedSpec extends text.DsirSpec with RangedGate
class NgramLmRangedSpec extends text.NgramLmSpec with RangedGate
class CalibrationRangedSpec extends text.CalibrationSpec with RangedGate
class TextOpsPackRangedSpec extends text.TextOpsSpec with RangedGate
class SemanticAdaptiveRangedSpec extends sim.SemanticAdaptiveSpec with RangedGate
class SmoteRangedSpec extends metrics.SamplerSpec with RangedGate
class QualityClassifierRangedSpec extends text.QualityClassifierSpec
  with RangedGate
class FertilityRangedSpec extends text.FertilitySpec with RangedGate
class CorpusCurationRangedSpec extends pipeline.CorpusCurationSpec
  with RangedGate
class VisualClustersRangedSpec extends multimodal.VisualClustersSpec
  with RangedGate
class SemanticClustersRangedSpec extends sim.SimilarityOpsSpec with RangedGate
class StreamClustersRangedSpec extends streaming.StreamsSpec with RangedGate
