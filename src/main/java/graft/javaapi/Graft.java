package graft.javaapi;

import java.util.ArrayList;
import java.util.List;

import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;

/**
 * Java language binding (reference: sdkjava/ — a thin Java-friendly
 * facade over the engine's session, statement, and query surface, so
 * a Java application never touches Scala default arguments or
 * implicits).
 *
 * Everything routes through the same SparkSession + GRAFT dialect the
 * Scala API uses; results come back as {@code Dataset<Row>} (the
 * Java-facing Spark type) or plain {@code List<Row>}.
 */
public final class Graft {

    private final SparkSession spark;

    private Graft(SparkSession spark) {
        this.spark = spark;
    }

    /** Session with graft extensions on local[32] defaults. */
    public static Graft start() {
        return new Graft(graft.Engine.session("local[32]", 32));
    }

    /** Session with explicit master / shuffle partitions. */
    public static Graft start(String master, int shufflePartitions) {
        return new Graft(graft.Engine.session(master, shufflePartitions));
    }

    /** Wrap an existing session (must carry the graft extensions). */
    public static Graft wrap(SparkSession spark) {
        return new Graft(spark);
    }

    public SparkSession session() {
        return spark;
    }

    /** Register the standard testdata tables from a directory of
     * parquet files as temp views. */
    public Graft registerTables(String dir) {
        graft.Tables.apply(spark, dir).registerAll();
        return this;
    }

    /** Any statement — full Spark SQL plus the GRAFT dialect (MATCH,
     * SEARCH, ASOF, CHECK, ADD LOCATION, ...) — as a Dataset. */
    public Dataset<Row> sql(String statement) {
        return spark.sql(statement);
    }

    /** Execute through the one statement runner and collect (small
     * results; prefer {@link #sql} for anything large). */
    public List<Row> sqlToList(String statement) {
        return new ArrayList<>(scala.jdk.javaapi.CollectionConverters.asJava(
            graft.service.StatementRunner.run(spark, statement,
                scala.Option.empty()).rows().toSeq()));
    }

    public void stop() {
        spark.stop();
    }
}
