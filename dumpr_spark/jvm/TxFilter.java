package dumpr_spark.jvm;

import static org.apache.spark.sql.functions.col;

import java.io.ByteArrayInputStream;
import java.io.ByteArrayOutputStream;
import java.io.DataInputStream;
import java.io.DataOutputStream;
import java.io.IOException;
import java.nio.charset.StandardCharsets;
import java.util.ArrayList;
import java.util.Comparator;
import java.util.Iterator;
import java.util.List;

import org.apache.spark.api.java.function.FlatMapGroupsWithStateFunction;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.streaming.GroupState;
import org.apache.spark.sql.streaming.GroupStateTimeout;
import org.apache.spark.sql.streaming.OutputMode;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;

/**
 * The streaming transaction filter as a {@code flatMapGroupsWithState} fold
 * keyed by {@code source}: the state machine of
 * {@code streaming.state._fold_tx_rows}, run in the JVM so a micro-batch's
 * rows never leave it. State per source is {@code (in_tx, buffer)}, the rows
 * of the open transaction.
 *
 * <p>The buffer is stored as bytes ({@link #encode}), not as an
 * {@code array<struct>}: Spark resolves the state deserializer anew for every
 * micro-batch, and an array in it gets a fresh lambda variable id each time,
 * so every batch would generate and compile a new projection class.
 *
 * <p>{@code session.engine_jar} compiles this file with Spark's own Janino,
 * which has no lambdas or method references, treats a generic interface as
 * raw (hence {@code call}'s {@code Object} signature and casts), and cannot
 * see a try-with-resources variable.
 */
public class TxFilter implements FlatMapGroupsWithStateFunction {
  /** {@code streaming.state.TX_OUT_SCHEMA}: the input columns and the output rows. */
  static final StructType ROW = new StructType()
      .add("source", DataTypes.StringType)
      .add("event_type", DataTypes.StringType)
      .add("tbl", DataTypes.StringType)
      .add("payload", DataTypes.StringType)
      .add("seq", DataTypes.LongType);
  static final StructType STATE = new StructType()
      .add("in_tx", DataTypes.BooleanType)
      .add("buffer", DataTypes.BinaryType);
  private static final int EVENT_TYPE = 1;
  private static final int SEQ = 4;

  /** pandas' {@code sort_values("seq")} order: ascending, a NULL seq last. */
  static class BySeq implements Comparator {
    @Override
    public int compare(Object a, Object b) {
      Row x = (Row) a;
      Row y = (Row) b;
      if (x.isNullAt(SEQ) || y.isNullAt(SEQ)) {
        return Boolean.compare(x.isNullAt(SEQ), y.isNullAt(SEQ));
      }
      return Long.compare(x.getLong(SEQ), y.getLong(SEQ));
    }
  }

  /** {@code events}' committed and out-of-transaction rows, markers stripped. */
  public static Dataset<Row> apply(Dataset<Row> events) {
    Dataset<Row> rows = events.select(
        col("source").cast("string").as("source"),
        col("event_type").cast("string").as("event_type"),
        col("tbl").cast("string").as("tbl"),
        col("payload").cast("string").as("payload"),
        col("seq").cast("long").as("seq"));
    return rows.groupBy("source").as(Encoders.STRING(), Encoders.row(ROW))
        .flatMapGroupsWithState(new TxFilter(), OutputMode.Append(), Encoders.row(STATE),
            Encoders.row(ROW), GroupStateTimeout.NoTimeout());
  }

  @Override
  public Iterator call(Object source, Iterator input, GroupState state) throws IOException {
    Row prior = state.exists() ? (Row) state.get() : null;
    boolean inTx = prior != null && prior.getBoolean(0);
    List<Row> buf = prior != null ? decode((byte[]) prior.get(1)) : new ArrayList<Row>();
    List<Row> rows = new ArrayList<Row>();
    while (input.hasNext()) {
      rows.add((Row) input.next());
    }
    rows.sort(new BySeq());
    List<Row> out = new ArrayList<Row>();
    for (Row r : rows) {
      String et = r.getString(EVENT_TYPE);
      if ("tx-begin".equals(et)) {
        // a nested begin keeps the already-buffered rows (stream.clj:36)
        inTx = true;
      } else if ("tx-commit".equals(et)) {
        out.addAll(buf);
        inTx = false;
        buf.clear();
      } else if ("tx-rollback".equals(et)) {
        inTx = false;
        buf.clear();
      } else if (inTx) {
        buf.add(r);
      } else {
        // out-of-tx events pass straight through (stream.clj:52)
        out.add(r);
      }
    }
    state.update(RowFactory.create(inTx, encode(buf)));
    return out.iterator();
  }

  /** The buffered rows as a count, then per row four nullable strings and a nullable seq. */
  static byte[] encode(List<Row> rows) throws IOException {
    ByteArrayOutputStream bytes = new ByteArrayOutputStream();
    DataOutputStream out = new DataOutputStream(bytes);
    out.writeInt(rows.size());
    for (Row r : rows) {
      for (int i = 0; i < SEQ; i++) {
        byte[] s = r.isNullAt(i) ? null : r.getString(i).getBytes(StandardCharsets.UTF_8);
        out.writeInt(s == null ? -1 : s.length);
        if (s != null) {
          out.write(s);
        }
      }
      out.writeBoolean(r.isNullAt(SEQ));
      if (!r.isNullAt(SEQ)) {
        out.writeLong(r.getLong(SEQ));
      }
    }
    out.flush();
    return bytes.toByteArray();
  }

  static List<Row> decode(byte[] bytes) throws IOException {
    DataInputStream in = new DataInputStream(new ByteArrayInputStream(bytes));
    int n = in.readInt();
    List<Row> rows = new ArrayList<>(n);
    for (int k = 0; k < n; k++) {
      Object[] fields = new Object[SEQ + 1];
      for (int i = 0; i < SEQ; i++) {
        int len = in.readInt();
        if (len >= 0) {
          byte[] s = new byte[len];
          in.readFully(s);
          fields[i] = new String(s, StandardCharsets.UTF_8);
        }
      }
      fields[SEQ] = in.readBoolean() ? null : in.readLong();
      rows.add(RowFactory.create(fields));
    }
    return rows;
  }
}
