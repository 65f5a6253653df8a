// The cost of the corpus_dedup workload's set-up (DedupIndex.build, then
// AnnIndex.build over the corpus), build by build: wall time, process CPU
// (JIT compiler and GC threads included), Spark jobs and generated classes
// compiled (cache misses of Spark's generated-class cache, CodegenMetrics).
//
// A single-file Java program run against a perfbench build of a checkout
// (`perfbench/run.py` writes `.bench_build/perfbench/classpath.txt`):
//
//   (cd perfbench && python3 -c "import run; \
//     run.plan_for('corpus_dedup', 1, 12, 0, '/tmp/probe_data')")
//   java <build.sbt's --add-opens list> -Xmx3g \
//     -cp "$(cat .bench_build/perfbench/classpath.txt)" \
//     tools/CorpusSetupProbe.java /tmp/probe_data/corpus 16 /tmp/probe_work 4
//
// Arguments: the corpus directory (holding docs.parquet), the centroid count,
// a scratch directory, and the number of set-ups (default 4). The first
// set-up starts from a cold JVM; the later ones show what a warm one costs.
// Each set-up writes its indexes under <work>/setup<i>, as the benchmark does.

import java.lang.management.ManagementFactory;
import java.util.concurrent.atomic.AtomicInteger;

import org.apache.spark.metrics.source.CodegenMetrics;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;

public class CorpusSetupProbe {

  private static final AtomicInteger jobs = new AtomicInteger();

  /** One measured step. */
  private interface Step {
    void run() throws Exception;
  }

  private static long cpuNanos() {
    return ((com.sun.management.OperatingSystemMXBean)
        ManagementFactory.getOperatingSystemMXBean()).getProcessCpuTime();
  }

  /** Runs one step and prints its cost on one line. */
  private static void measure(SparkSession spark, String label, Step step)
      throws Exception {
    spark.sparkContext().listenerBus().waitUntilEmpty();
    int jobs0 = jobs.get();
    long compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME().getCount();
    long cpu0 = cpuNanos();
    long t0 = System.nanoTime();
    step.run();
    double wall = (System.nanoTime() - t0) / 1e9;
    double cpu = (cpuNanos() - cpu0) / 1e9;
    long compiles = CodegenMetrics.METRIC_COMPILATION_TIME().getCount() - compiles0;
    spark.sparkContext().listenerBus().waitUntilEmpty();
    int n = jobs.get() - jobs0;
    System.out.printf("%-22s wall_s %6.2f  cpu_s %6.2f  jobs %3d  compiles %4d%n",
        label, wall, cpu, n, compiles);
  }

  public static void main(String[] args) throws Exception {
    String corpusDir = args[0];
    int nCentroids = Integer.parseInt(args[1]);
    String work = args[2];
    int setups = args.length > 3 ? Integer.parseInt(args[3]) : 4;
    SparkSession spark = perfbench.Main.session(work);
    spark.sparkContext().addSparkListener(new SparkListener() {
      @Override
      public void onJobStart(SparkListenerJobStart e) {
        jobs.incrementAndGet();
      }
    });
    Dataset<Row> corpus = spark.read().parquet(corpusDir + "/docs.parquet");
    for (int i = 0; i < setups; i++) {
      String root = work + "/setup" + i;
      measure(spark, "setup " + i + " (both)", () -> {
        measure(spark, "  DedupIndex.build", () -> graft.ops.DedupIndex.build(
            corpus.select("doc_id", "text"), "doc_id", "text", 3, root + "/dedup", 8,
            graft.ops.Dedup.DefaultMaxDf()));
        measure(spark, "  AnnIndex.build", () -> graft.ops.AnnIndex.build(
            corpus.select("doc_id", "embedding"), "doc_id", "embedding", nCentroids,
            root + "/ann", 2));
      });
    }
    spark.stop();
  }
}
