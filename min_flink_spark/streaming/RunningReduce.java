package min_flink_spark.streaming;

import java.util.ArrayList;
import java.util.Comparator;
import java.util.Iterator;
import java.util.List;

import org.apache.spark.api.java.function.FlatMapGroupsWithStateFunction;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.KeyValueGroupedDataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.streaming.GroupState;
import org.apache.spark.sql.streaming.GroupStateTimeout;
import org.apache.spark.sql.streaming.OutputMode;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;

/**
 * The continuous keyed reduce (StreamGroupedReduce.java:35-53) as a JVM
 * stateful operator: per key and micro-batch, the key's rows are sorted
 * by the order column (a stable sort, so ties keep arrival order), the
 * running value is seeded from the key's GroupState, one
 * (key, order, value, running) row is emitted per input row, and the
 * last running value becomes the new state.
 *
 * Input columns are positional: (key bigint, order bigint, value T)
 * with T bigint or double. State lives in Spark's batch-versioned state
 * store, so a replayed batch reads the same snapshot.
 */
public final class RunningReduce {
  private RunningReduce() {}

  /** Plan the operator over {@code events} = (key, order, value). */
  public static Dataset<Row> plan(Dataset<Row> events, String op) {
    StructType in = events.schema();
    StructType keySchema = new StructType().add(in.fields()[0]);
    Encoder<Row> outEnc = Encoders.row(in.add("running", in.fields()[2].dataType()));
    KeyValueGroupedDataset<Row, Row> byKey = events.groupBy(in.fieldNames()[0])
        .as(Encoders.row(keySchema), Encoders.row(in));
    if (in.fields()[2].dataType().equals(DataTypes.LongType)) {
      return byKey.flatMapGroupsWithState(new LongReduce(op), OutputMode.Update(),
          Encoders.LONG(), outEnc, GroupStateTimeout.NoTimeout());
    }
    return byKey.flatMapGroupsWithState(new DoubleReduce(op), OutputMode.Update(),
        Encoders.DOUBLE(), outEnc, GroupStateTimeout.NoTimeout());
  }

  private static List<Row> sortedBatch(Iterator<Row> rows) {
    List<Row> batch = new ArrayList<>();
    rows.forEachRemaining(batch::add);
    batch.sort(Comparator.comparingLong(r -> r.getLong(1)));  // List.sort is stable
    return batch;
  }

  static final class LongReduce implements FlatMapGroupsWithStateFunction<Row, Row, Long, Row> {
    private final String op;

    LongReduce(String op) {
      this.op = op;
    }

    private long reduce(long acc, long v) {
      switch (op) {
        case "min": return Math.min(acc, v);
        case "max": return Math.max(acc, v);
        default: return acc + v;
      }
    }

    @Override
    public Iterator<Row> call(Row key, Iterator<Row> rows, GroupState<Long> state) {
      List<Row> batch = sortedBatch(rows);
      List<Row> out = new ArrayList<>(batch.size());
      boolean seeded = state.exists();
      long acc = seeded ? state.get() : 0L;
      long k = key.getLong(0);
      for (Row r : batch) {
        long v = r.getLong(2);
        acc = seeded ? reduce(acc, v) : v;
        seeded = true;
        out.add(RowFactory.create(k, r.getLong(1), v, acc));
      }
      if (seeded) {
        state.update(acc);
      }
      return out.iterator();
    }
  }

  static final class DoubleReduce implements FlatMapGroupsWithStateFunction<Row, Row, Double, Row> {
    private final String op;

    DoubleReduce(String op) {
      this.op = op;
    }

    private double reduce(double acc, double v) {
      switch (op) {
        case "min": return Math.min(acc, v);
        case "max": return Math.max(acc, v);
        default: return acc + v;
      }
    }

    @Override
    public Iterator<Row> call(Row key, Iterator<Row> rows, GroupState<Double> state) {
      List<Row> batch = sortedBatch(rows);
      List<Row> out = new ArrayList<>(batch.size());
      boolean seeded = state.exists();
      double acc = seeded ? state.get() : 0.0;
      long k = key.getLong(0);
      for (Row r : batch) {
        double v = r.getDouble(2);
        acc = seeded ? reduce(acc, v) : v;
        seeded = true;
        out.add(RowFactory.create(k, r.getLong(1), v, acc));
      }
      if (seeded) {
        state.update(acc);
      }
      return out.iterator();
    }
  }
}
